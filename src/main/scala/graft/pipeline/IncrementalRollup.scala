package graft.pipeline

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

import graft.table.GraftTable
import graft.util.Phase

/** Incrementally-maintained aggregate tables (materialized-view
  * maintenance): keep `dst` equal to
  *
  *   SELECT keys, SUM(c) AS c_sum ..., MIN(m) AS m_min ...,
  *          MAX(x) AS x_max ..., COUNT(*) AS n
  *   FROM src GROUP BY keys
  *
  * by applying the source CHANGELOG's net deltas instead of
  * re-aggregating the source. At 100 TB this is the only viable shape
  * for derived tables: a day's maintenance costs O(changed rows) +
  * a rewrite bounded by the affected keys' files, where the recompute
  * costs a full source scan. SUM/COUNT are retraction-safe (deletes
  * subtract); AVG derives downstream as c_sum / n.
  *
  * COUNT(DISTINCT c) is maintained approximately as KMV sketch state
  * (`<c>_distinct_sk` + `<c>_distinct_est`): insert deltas union-merge
  * into the per-group state (exact below k distinct values, the classic
  * unbiased bottom-k estimate above), and retractions fall back to the
  * MIN/MAX path below. The estimate equals the one-shot aggregate's
  * bit-for-bit — and a DuckDB SQL rebuild's — because the state is the
  * engine-portable md5-prefix hash set and the estimator a fixed IEEE
  * expression.
  *
  * MIN/MAX are NOT delta-safe — a retracted extremum is unrecoverable
  * from deltas alone — so they use the standard bounded fallback: the
  * changelog names exactly the groups that saw a retraction, and ONLY
  * those groups are re-aggregated from `src`, through a stats-pruned
  * scan ([[GraftTable.readForKeys]]) that skips src files whose key
  * ranges/Blooms cannot contain the affected keys. Groups touched only
  * by inserts fold the delta's own extremes in (`least`/`greatest`) —
  * no source read at all. Cost stays O(affected groups' files), never a
  * full src scan.
  *
  * The `dst` read is likewise pruned: the delta's key set bounds which
  * dst files can hold current values for affected groups, so each
  * maintenance round reads O(affected keys' files) of dst — not all of
  * dst (the r7 finding: a runtime semi-join prunes rows, not files; the
  * probe must reach the driver-side manifest planner to skip IO).
  *
  * Exactly-once with NO external checkpoint: each maintenance merge is
  * stamped with the idempotent-writer txn `(appId, srcTipSnapshot)`, so
  * the destination table itself records the high-water mark
  * (`dst.lastTxnBatch(appId)`), the stamp commits atomically WITH the
  * delta, and a crash-replay of the same range is a no-op. There is no
  * window in which a crash loses or double-applies a range.
  *
  * The source range is read via `changes(from, tip]` — every commit
  * type (append, COW/MOR merge, delete, update) contributes its exact
  * net row changes; rewrites (compact/fold) are data-equivalent and
  * contribute nothing. Source history must be retained at least as long
  * as the maintenance interval (expire keeps `from` reachable). The
  * MIN/MAX re-aggregation reads src AS OF `tip`, so commits landing
  * concurrently with maintenance cannot leak ahead of the stamped range.
  */
object IncrementalRollup {

  /** How long a round waits for its guard observation after the delta's
    * checkpoint job ended (the listener bus delivers it, normally within
    * milliseconds). */
  private val GuardWait = scala.concurrent.duration.Duration(60, "s")

  /** One maintenance round. Creates `dst` (unpartitioned, schema =
    * keys ++ sums ++ mins ++ maxes ++ n) on first use. Returns the
    * applied source range `(fromExclusive, tipInclusive)`, or None when
    * up to date. */
  def maintain(src: GraftTable, dst: GraftTable, keys: Seq[String],
      sumCols: Seq[String], appId: String,
      mode: String = "cow",
      minCols: Seq[String] = Seq.empty,
      maxCols: Seq[String] = Seq.empty,
      // approximate COUNT(DISTINCT c) per group, maintained as KMV
      // sketch state (`<c>_distinct_sk` array + `<c>_distinct_est`
      // double in dst): inserts union-merge into the state (bottom-k-
      // distinct is a semilattice homomorphism, so merged state ≡ the
      // one-shot aggregate of the union); deletes can't retract a
      // sketch, so retraction-affected groups ride the same bounded
      // re-aggregation path MIN/MAX uses. The hash is the engine-
      // portable md5 prefix (DuckDB rebuilds the identical estimate).
      distinctCols: Seq[String] = Seq.empty,
      distinctK: Int = 512,
      // sum-of-squares state (`<c>_sumsq` in dst): retraction-safe like
      // sums (deletes subtract c²), and together with `<c>_sum` and `n`
      // it derives AVG, VAR_POP and STDDEV downstream without ever
      // re-reading the source — use DECIMAL source columns so the
      // squared sums stay exact (engine-portable) under any summation
      // order
      sumSqCols: Seq[String] = Seq.empty)
      : Option[(Long, Long)] = Phase.timed("pipeline.gold") {
    require(keys.nonEmpty, "at least one group key")
    // one view of each table's log for the round (dst's merge and a
    // first-round create resolve their own)
    val srcSt = src.state()
    val tip = srcSt.tipId.getOrElse(return None)
    val dstSt = if (dst.exists) Some(dst.state()) else None
    val from = dstSt.flatMap(_.lastTxnBatch(appId)).getOrElse(-1L)
    if (tip <= from) return None

    val srcSchema = srcSt.schema
    (sumCols ++ minCols ++ maxCols ++ distinctCols ++ sumSqCols).foreach(c =>
      require(srcSchema.fieldNames.contains(c),
        s"aggregate column $c not in source schema"))
    // distinct shares the retraction flag + bounded re-aggregation
    // machinery with MIN/MAX: a delete may remove a group's last
    // occurrence of a value, which no sketch can un-count
    val extremes = minCols.nonEmpty || maxCols.nonEmpty ||
      distinctCols.nonEmpty
    import graft.functions.AggExpressions.{kmv_sketch, kmv_merge, kmv_estimate}
    import graft.functions.HashExpressions.md5_hash64
    def hashOf(c: String) = md5_hash64(col(c).cast("string"))
    val ch = src.changes(srcSt, from, tip)
    // net per-key delta: inserts add, deletes subtract (an update is a
    // delete+insert pair in the changelog, so it contributes the net).
    // For MIN/MAX only INSERTED values are candidates; `__retracted`
    // flags the groups whose extremes need the bounded re-aggregation.
    val isDel = col("_change_type") === "delete"
    val sgn = when(isDel, lit(-1L)).otherwise(lit(1L))
    val aggs: Seq[org.apache.spark.sql.Column] =
      Seq(sum(sgn).as("__delta_n")) ++
        sumCols.map(c => sum(col(c) * sgn).as(s"__delta_${c}_sum")) ++
        sumSqCols.map(c =>
          sum(col(c) * col(c) * sgn).as(s"__delta_${c}_sumsq")) ++
        minCols.map(c =>
          min(when(!isDel, col(c))).as(s"__delta_${c}_min")) ++
        maxCols.map(c =>
          max(when(!isDel, col(c))).as(s"__delta_${c}_max")) ++
        distinctCols.map(c =>
          kmv_sketch(when(!isDel, hashOf(c)), distinctK)
            .as(s"__delta_${c}_sk")) ++
        // per summed column, TWO non-null trackers over the delta:
        //   __delta_c_anynn (unsigned count of non-null inputs): a SUM
        //     over non-null inputs can only be NULL through overflow
        //     (non-ANSI DECIMAL overflow returns null) — this tells the
        //     overflow apart from an empty/all-null group and fails
        //     LOUD below, instead of coalesce(...,0) silently zeroing
        //     the delta and corrupting the maintained sums forever;
        //   __delta_c_nncnt (SIGNED: inserts +1, deletes -1): maintains
        //     dst's running non-null count `c_nncnt`, which restores
        //     SQL SEMANTICS for all-null groups — SUM over zero
        //     non-null values is NULL, not the 0 the coalesce-combine
        //     alone would produce
        (sumCols ++ sumSqCols).distinct.flatMap(c => Seq(
          count(col(c)).as(s"__delta_${c}_anynn"),
          sum(when(col(c).isNotNull, sgn).otherwise(lit(0L)))
            .as(s"__delta_${c}_nncnt"))) ++
        Seq(max(when(isDel, lit(1)).otherwise(lit(0))).as("__retracted"))
    // Group keys must be non-null: every downstream key match (the dst
    // file-prune probe, the semi/full-outer/anti joins, MergeInto's key
    // equality, and the file-stat pruning that makes the reads bounded)
    // uses SQL equality, where NULL never equals NULL — a null-keyed
    // group's dst row would never update or retract and duplicates
    // would silently accumulate.
    // overflow guard: null delta sum + non-null inputs ⇔ the aggregate
    // overflowed its DECIMAL precision — the state would corrupt silently
    // through coalesce(...,0), so refuse the round and tell the caller to
    // widen. Both guards are observed (one flag each) in the pass that
    // checkpoints the delta, so they launch no job of their own.
    val overflowConds =
      sumCols.map(c => col(s"__delta_${c}_sum").isNull &&
        col(s"__delta_${c}_anynn") > 0) ++
      sumSqCols.map(c => col(s"__delta_${c}_sumsq").isNull &&
        col(s"__delta_${c}_anynn") > 0)
    def flag(c: org.apache.spark.sql.Column) =
      max(when(c, lit(1)).otherwise(lit(0)))
    val observed = org.apache.spark.sql.Observation("rollup-guards")
    // checkpoint: the delta is aggregate-sized (one row per CHANGED
    // group) and feeds three consumers — the dst file-prune probe, the
    // combine join, and the merge's own key probes — each of which
    // would otherwise re-run the whole changelog reconstruction
    val delta = ch.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .observe(observed,
        flag(keys.map(col(_).isNull).reduce(_ || _)).as("__nullk"),
        flag(overflowConds.foldLeft(lit(false))(_ || _)).as("__overflow"))
      .localCheckpoint()
    try {
    // the observation completes when the checkpoint's execution-end event
    // reaches the listener bus; metrics absent from it (or an event that
    // never arrives) fail the round rather than read as "no violation"
    val guards = scala.util.Try(scala.concurrent.Await.result(
        observed.future, GuardWait)).toOption
      .filter(r => r.length == 2)
      .getOrElse(throw new IllegalStateException(
        s"rollup guards for ${dst.location} were not observed within " +
          s"$GuardWait; refusing the round"))
    require(guards.isNullAt(0) || guards.getInt(0) == 0,
      s"rollup group keys (${keys.mkString(",")}) contain NULLs; " +
        "filter or coalesce them upstream — null-keyed groups cannot be " +
        "maintained through SQL key equality")
    require(guards.isNullAt(1) || guards.getInt(1) == 0,
      s"a delta SUM/SUMSQ aggregate overflowed its DECIMAL precision " +
        s"(null result over non-null inputs) for ${dst.location} — " +
        "widen the source column's precision (sum-of-squares needs " +
        "~2x the digits) or maintain over a bounded-precision cast")

    if (dstSt.isEmpty) {
      val aggFields = keys.map(k => srcSchema(k)) ++
        sumCols.map(c => StructField(s"${c}_sum",
          delta.schema(s"__delta_${c}_sum").dataType)) ++
        sumSqCols.map(c => StructField(s"${c}_sumsq",
          delta.schema(s"__delta_${c}_sumsq").dataType)) ++
        (sumCols ++ sumSqCols).distinct.map(c =>
          StructField(s"${c}_nncnt", LongType)) ++
        minCols.map(c => StructField(s"${c}_min", srcSchema(c).dataType)) ++
        maxCols.map(c => StructField(s"${c}_max", srcSchema(c).dataType)) ++
        distinctCols.flatMap(c => Seq(
          StructField(s"${c}_distinct_sk",
            org.apache.spark.sql.types.ArrayType(LongType, false)),
          StructField(s"${c}_distinct_est",
            org.apache.spark.sql.types.DoubleType))) :+
        StructField("n", LongType)
      dst.create(StructType(aggFields.toArray))
    } else {
      // the maintained spec is part of dst's identity: a maintain call
      // with a different aggregate list would silently read absent
      // columns — fail loud instead
      val expect = sumCols.map(_ + "_sum") ++ minCols.map(_ + "_min") ++
        maxCols.map(_ + "_max") ++ distinctCols.map(_ + "_distinct_sk") ++
        sumSqCols.map(_ + "_sumsq") ++
        (sumCols ++ sumSqCols).distinct.map(_ + "_nncnt")
      val have = dstSt.get.schema.fieldNames.toSet
      val missing = expect.filterNot(have)
      require(missing.isEmpty,
        s"dst ${dst.location} lacks maintained columns: " +
          s"${missing.mkString(",")}. The destination was created by an " +
          "older maintain() or with a different aggregate list; recover " +
          "by either (a) recreating dst (drop the table and re-run " +
          "maintain — it rebuilds from src's full state in one pass), or " +
          "(b) adding the missing columns with a one-shot backfill " +
          "computed from src (e.g. <c>_nncnt = COUNT(<c>) per group) " +
          "before resuming incremental maintenance")
    }

    // current values for AFFECTED keys only: the probe's key set reaches
    // the driver-side manifest planner (readForKeys) so dst FILES whose
    // stats exclude every affected key are skipped, then the semi-join
    // keeps exactly the affected rows from the files that survived
    val probe = delta.select(keys.map(col): _*)
    val cur = dst.readForKeys(dstSt.getOrElse(dst.state()), probe, keys)
      .join(probe, keys, "left_semi")

    // bounded MIN/MAX recovery: re-aggregate ONLY retraction-affected
    // groups, from src AS OF tip, through the same stats-pruned scan
    val reagg: Option[org.apache.spark.sql.DataFrame] =
      if (!extremes) None
      else {
        val retr = delta.filter(col("__retracted") === 1)
          .select(keys.map(col): _*)
        val reAggs = minCols.map(c => min(col(c)).as(s"__re_${c}_min")) ++
          maxCols.map(c => max(col(c)).as(s"__re_${c}_max")) ++
          distinctCols.map(c =>
            kmv_sketch(hashOf(c), distinctK).as(s"__re_${c}_sk"))
        Some(src.readForKeys(srcSt, retr, keys)
          .join(retr, keys, "left_semi")
          .groupBy(keys.map(col): _*)
          .agg(reAggs.head, reAggs.tail: _*))
      }

    val joined0 = cur.join(delta, keys, "full_outer")
    val joined = reagg.fold(joined0)(r => joined0.join(r, keys, "left_outer"))
    // __retracted is NULL for groups absent from the delta (cur-only
    // rows of a full-outer join never happen here — cur is semi-joined
    // to the delta — but the guard keeps the expression total)
    val retracted = col("__retracted") === 1
    // running non-null input count per summed column: when it reaches
    // zero the group's values are ALL null and SQL says SUM = NULL —
    // the coalesce-combine alone would freeze a stale 0/old value
    def newNn(c: String) =
      coalesce(col(s"${c}_nncnt"), lit(0L)) +
        coalesce(col(s"__delta_${c}_nncnt"), lit(0L))
    val combined = joined
      .select(keys.map(col) ++
        sumCols.map(c =>
          when(newNn(c) > 0,
            coalesce(col(s"${c}_sum"), lit(0)) +
              coalesce(col(s"__delta_${c}_sum"), lit(0)))
            .as(s"${c}_sum")) ++
        sumSqCols.map(c =>
          when(newNn(c) > 0,
            coalesce(col(s"${c}_sumsq"), lit(0)) +
              coalesce(col(s"__delta_${c}_sumsq"), lit(0)))
            .as(s"${c}_sumsq")) ++
        (sumCols ++ sumSqCols).distinct.map(c =>
          newNn(c).as(s"${c}_nncnt")) ++
        minCols.map(c =>
          when(retracted, col(s"__re_${c}_min"))
            .otherwise(least(col(s"${c}_min"), col(s"__delta_${c}_min")))
            .as(s"${c}_min")) ++
        maxCols.map(c =>
          when(retracted, col(s"__re_${c}_max"))
            .otherwise(greatest(col(s"${c}_max"), col(s"__delta_${c}_max")))
            .as(s"${c}_max")) ++
        distinctCols.flatMap { c =>
          // kmv_merge treats NULL as the empty sketch, so new-to-dst
          // groups and delete-only deltas need no special casing
          val st = when(retracted, col(s"__re_${c}_sk"))
            .otherwise(kmv_merge(col(s"${c}_distinct_sk"),
              col(s"__delta_${c}_sk"), distinctK))
          Seq(st.as(s"${c}_distinct_sk"),
            kmv_estimate(st, distinctK).as(s"${c}_distinct_est"))
        } :+
        (coalesce(col("n"), lit(0L)) +
          coalesce(col("__delta_n"), lit(0L))).as("n"): _*)
      // a group whose count reaches zero LEFT the aggregate — a CDC
      // delete through the merge, not a zero-count row
      .withColumn("__op", when(col("n") === 0L, lit("D")))

    // sourceDistinct: `combined` is one row per key BY CONSTRUCTION (a
    // full-outer join on the keys of two key-grouped frames), so the
    // merge's keep-latest window dedup — an exchange + sort over the
    // combine output — is an identity and is skipped
    dst.merge(combined, keys = keys, dedupKey = keys,
      orderCol = keys.head, opCol = Some("__op"), mode = mode,
      txn = Some((appId, tip)), sourceDistinct = true)
    Some((from, tip))
    // free the checkpointed delta's RDD blocks now, not at GC time: a
    // long-lived session running repeated maintenance rounds would
    // otherwise accumulate persistent blocks until storage-memory
    // eviction churn dominates (the failure mode Bench works around
    // with explicit per-query cleanup)
    } finally delta.unpersist(blocking = false)
  }
}
