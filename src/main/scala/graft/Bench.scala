package graft

import org.apache.spark.sql.SparkSession

/** Benchmark harness (driver contract): runs the headline query set on
  * SPARK_GRAFT_SF_DIR at local[N] and prints the full per-query JSON
  * line FOLLOWED BY one compact summary line (see below).
  *
  * Headline = the analytical + north-star operator queries, PLUS the
  * table-lifecycle queries (append→merge→read against scratch graft
  * tables: COW merge, MOR merge, incremental scan) — the merge path is
  * the product, so its number must be able to regress. Lifecycle numbers
  * include scratch-dir IO by construction; they are comparable
  * round-over-round since the recipe is fixed.
  *
  * Artifact integrity (the round-4 lesson — a contended recording is
  * worse than none, because the gate can't tell regression from
  * weather):
  *   - the 10× scale corpus is generated (or located) BEFORE the first
  *     timed run — scale-gen jobs never share the session with timing;
  *   - every query (base AND scale tier) is timed over THREE runs; the
  *     artifact records min + median, and "value"/"queries" keep the min
  *     (steady-state figure — JIT/codegen warm, the number that projects
  *     to a long-running cluster);
  *   - any run deviating more than 2× from its query's median marks the
  *     query in "unstable" with all its raw runs in "unstable_runs" —
  *     a dirty sample is visible IN the artifact, not discovered later;
  *   - lifecycle queries carry an in-artifact Phase ledger (driver-side
  *     per-phase seconds, the Spark jobs each phase launched and the
  *     wall time no phase covered, summed over the three timed runs)
  *     plus their raw runs, so the headline number is cross-checkable
  *     against its own phase breakdown without a re-run.
  *
  * Idle-window discipline (r7 verdict "do this" #2 — three r7 attempts
  * were all weather): before each measurement pass the contention
  * SENTINEL runs alone; while its ratio exceeds [[graft.util.
  * BenchSentinel.ContendedRatio]] the pass is NOT started — the harness
  * sleeps and re-probes, up to SPARK_GRAFT_IDLE_TRIES times. If a pass
  * still finishes contended (contention arrived mid-run) and attempts
  * remain (SPARK_GRAFT_BENCH_ATTEMPTS, default 2), the WHOLE pass is
  * re-run and the best-sentinel pass is the one reported; every probe
  * ratio and every attempt's ratio is recorded in the artifact, so "N
  * spaced attempts never found idle" is in-artifact evidence.
  *
  * Weather-robust comparables (r15 verdict #2): the frozen-set totals
  * (`core/lifecycle/foreign_comparable_sec`) are computed over the
  * per-query MIN across the main pass's three runs AND an idle-gated
  * two-run REPASS at the end of the session — a weather episode must
  * hit both ends of the session to move the round-over-round number.
  * The single-pass totals stay in the artifact as `*_pass1_sec`.
  *
  * Artifact format (r7 verdict "do this" #1 — the full line exceeded
  * the driver's tail capture two rounds running, so the perf gate saw
  * parsed:null): the full line prints FIRST, then ONE compact summary
  * line guaranteed well under ~1.5 kB prints LAST — the tail capture
  * keeps the end of output, so the summary (totals, contended flag,
  * sentinel ratio, 10× ratios, ten slowest medians) always survives
  * capture even when the full line does not.
  *
  * Timing: one JVM/session warm-up action, then per query one UNTIMED
  * warm-up run followed by three timed runs keeping min + median. The
  * session's cache manager is cleared
  * and a GC is nudged between queries so one query's cached/
  * checkpointed frames cannot bleed into another's timing
  * (localCheckpoint blocks free only when the ContextCleaner sees their
  * RDDs unreferenced; without the GC ~150 runs of leftovers pile onto
  * the heap and late-session queries measure memory pressure, not plan
  * cost — observed 3-5× inflation on the 10× minhash in round 4).
  */
object Bench {

  val headline: Seq[String] = Seq(
    "q1_agg", "q3_shipping", "q4_semi", "q5_local_supplier", "q6_forecast",
    "q7_volume", "q8_market_share", "q14_promo",
    "q17_small_qty", "q18_large_orders",
    "q13_custdist", "q16_part_supplier", "q21_waiting_supplier",
    "q22_global_sales", "q15_top_supplier", "q19_discounted",
    "q11_important_stock", "q20_part_promotion",
    "q2_min_cost_supplier", "q9_product_profit", "q12_ship_priority",
    "q_running_total", "q_rank_in_group", "q_distinct_sketch",
    "q_quantile_sample", "q_window_breadth", "q_cube",
    "q_date_funcs", "q_array_funcs",
    "q10_returned", "q_rollup", "q_count_distinct",
    "q_filter_project", "q_window_dedup", "q_merge_upsert",
    "q_join_enrich", "q_topk", "q_count",
    "q_events_daily", "q_events_sessions", "q_funnel",
    "q_doc_stats", "q_token_count", "q_quality", "q_lang_id", "q_fingerprint",
    "q_bm25", "q_diversity", "q_decontaminate", "q_pack",
    "q_repetition", "q_span_dedup", "q_source_mix", "q_quality_classifier",
    "q_lm_score", "q_inverted_index", "q_heavy_hitters",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_jaccard",
    "q_dedup_embedding", "q_ann_topk", "q_ann_lsh", "q_ann_ivf",
    "q_embed_norm", "q_kmeans", "q_semdedup",
    // table lifecycle (scratch-table append + merge + read per run)
    "q_table_merge", "q_table_merge_mor", "q_incremental_scan",
    "q_sql_merge", "q_hidden_partition", "q_sql_rowlevel", "q_stream_table",
    "q_table_changes", "q_table_changes_materialized",
    "q_delete_positions", "q_update_positions",
    "q_zorder_scan",
    "q_chunk_dedup", "q_chunk_overlap", "q_rollup_incremental",
    "q_rollup_minmax", "q_rollup_distinct", "q_rollup_var",
    "q_rollup_histogram",
    "q_ann_ivf_index", "q_ann_ivf_index_update", "q_ingest_dedup",
    "q_source_overlap", "q_vocab_oov", "q_retention_cohorts",
    "q_hidden_partition_hour", "q_stream_rollup", "q_stream_merge",
    "q_stream_pipeline", "q_compact_smallfiles", "q_sql_merge_update",
    "q_sql_merge_sync", "q_sql_merge_cond", "q_compact_zorder",
    "q_truncate",
    "q_sql_merge_matrix", "q_iceberg_import", "q_iceberg_import_mor",
    "q_iceberg_import_incremental", "q_iceberg_import_pruned",
    "q_stream_iceberg", "q_iceberg_diff", "q_iceberg_diff_log",
    "q_stream_iceberg_cdc", "q_iceberg_writeback",
    "q_iceberg_writeback_delete", "q_iceberg_writeback_delete_keys",
    "q_iceberg_writeback_merge", "q_iceberg_writeback_merge_eq",
    "q_iceberg_evolve_writeback", "q_iceberg_compact_writeback",
    "q_stream_iceberg_sink", "q_iceberg_register",
    "q_iceberg_import_eq_bucket", "q_iceberg_import_v3",
    "q_iceberg_import_nested", "q_iceberg_import_collections",
    "q_iceberg_import_orc")

  /** FROZEN round-over-round comparison set: the round-8 headline,
    * never to grow again — the headline total became incomparable across
    * rounds as new queries joined it (74 → 85 → ...), so the artifact
    * carries `core_comparable_sec` / `lifecycle_comparable_sec` summed
    * over exactly this set. Growth shows in the headline totals;
    * regression shows here. */
  val comparable: Set[String] = Set(
    "q1_agg", "q3_shipping", "q4_semi", "q5_local_supplier", "q6_forecast",
    "q7_volume", "q8_market_share", "q14_promo",
    "q17_small_qty", "q18_large_orders",
    "q_running_total", "q_rank_in_group", "q_distinct_sketch",
    "q_quantile_sample", "q_window_breadth", "q_cube",
    "q_date_funcs", "q_array_funcs",
    "q10_returned", "q_rollup", "q_count_distinct",
    "q_filter_project", "q_window_dedup", "q_merge_upsert",
    "q_join_enrich", "q_topk", "q_count",
    "q_events_daily", "q_events_sessions", "q_funnel",
    "q_doc_stats", "q_token_count", "q_quality", "q_lang_id", "q_fingerprint",
    "q_bm25", "q_diversity", "q_decontaminate", "q_pack",
    "q_repetition", "q_span_dedup", "q_source_mix", "q_quality_classifier",
    "q_lm_score", "q_inverted_index", "q_heavy_hitters",
    "q_dedup_exact", "q_dedup_minhash", "q_dedup_simhash", "q_dedup_jaccard",
    "q_dedup_embedding", "q_ann_topk", "q_ann_lsh", "q_ann_ivf",
    "q_embed_norm", "q_kmeans", "q_semdedup",
    "q_table_merge", "q_table_merge_mor", "q_incremental_scan",
    "q_sql_merge", "q_hidden_partition", "q_sql_rowlevel", "q_stream_table",
    "q_table_changes", "q_table_changes_materialized",
    "q_delete_positions", "q_update_positions",
    "q_zorder_scan",
    "q_chunk_dedup", "q_chunk_overlap", "q_rollup_incremental",
    "q_rollup_minmax", "q_ann_ivf_index", "q_ingest_dedup",
    "q_source_overlap", "q_vocab_oov", "q_retention_cohorts")

  val lifecycle: Set[String] = Set("q_table_merge", "q_table_merge_mor",
    "q_incremental_scan", "q_sql_merge", "q_hidden_partition",
    "q_sql_rowlevel", "q_stream_table", "q_table_changes",
    "q_table_changes_materialized",
    "q_delete_positions", "q_update_positions", "q_rollup_incremental",
    "q_rollup_minmax", "q_rollup_distinct", "q_rollup_var",
    "q_rollup_histogram",
    "q_ann_ivf_index", "q_ann_ivf_index_update", "q_ingest_dedup",
    "q_zorder_scan", "q_hidden_partition_hour", "q_stream_rollup",
    "q_stream_merge", "q_stream_pipeline", "q_compact_smallfiles",
    "q_sql_merge_update", "q_sql_merge_sync", "q_sql_merge_cond",
    "q_compact_zorder", "q_truncate",
    "q_sql_merge_matrix", "q_iceberg_import", "q_iceberg_import_mor",
    "q_iceberg_import_incremental", "q_iceberg_import_pruned",
    "q_stream_iceberg", "q_iceberg_diff", "q_iceberg_diff_log",
    "q_stream_iceberg_cdc", "q_iceberg_writeback",
    "q_iceberg_writeback_delete", "q_iceberg_writeback_delete_keys",
    "q_iceberg_writeback_merge", "q_iceberg_writeback_merge_eq",
    "q_iceberg_evolve_writeback", "q_iceberg_compact_writeback",
    "q_stream_iceberg_sink", "q_iceberg_register",
    "q_iceberg_import_eq_bucket", "q_iceberg_import_v3",
    "q_iceberg_import_nested", "q_iceberg_import_collections",
    "q_iceberg_import_orc")

  /** THIRD frozen comparison set (round 12): the 18 round-11 foreign
    * Iceberg queries — the interop surface the round-12 changes touch
    * (broadcast gating, per-manifest classification, merge pruning,
    * DV path). Never grows; regression in the foreign path shows here
    * the way core/lifecycle regressions show in [[comparable]]. */
  val foreignComparable: Set[String] = Set(
    "q_iceberg_import", "q_iceberg_import_incremental",
    "q_iceberg_import_mor", "q_iceberg_import_pruned",
    "q_iceberg_register", "q_iceberg_diff", "q_iceberg_diff_log",
    "q_iceberg_compact_writeback", "q_iceberg_evolve_writeback",
    "q_iceberg_writeback", "q_iceberg_writeback_delete",
    "q_iceberg_writeback_delete_keys", "q_iceberg_writeback_merge",
    "q_iceberg_writeback_merge_eq", "q_sql_merge_matrix",
    "q_stream_iceberg", "q_stream_iceberg_cdc", "q_stream_iceberg_sink")

  /** 10× tier: every operator family whose 100 TB story rests on a
    * scaling claim — dedup/ANN bucketing, merges, partition pruning,
    * clustering, span dedup, LM scoring, changelog reconstruction. */
  val scaleQueries: Seq[String] = Seq("q_dedup_minhash", "q_ann_ivf",
    "q_table_merge", "q_table_merge_mor", "q_hidden_partition",
    "q_semdedup", "q_span_dedup", "q_lm_score", "q_table_changes",
    "q_chunk_dedup", "q_stream_merge",
    // the foreign write-back path: export + position-tombstone MERGE
    // into the tree — its scaling claim is one lineage scan + O(source)
    // writes, so the 10× ratio should track the data linearly
    "q_iceberg_writeback_merge")

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) -1.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2.0
  }

  private def fmt(d: Double): String = f"$d%.3f"

  /** Everything one measurement pass produced — JSON fragments plus the
    * numbers the final summary line needs. */
  private case class Pass(
      attempt: Int,
      qs: String, qsMed: String,
      total: Double, coreSec: Double, lifeSec: Double,
      coreCmpSec: Double, lifeCmpSec: Double,
      foreignCmpSec: Double,
      unstableNames: Seq[String], unstableJson: String,
      unstableRunsJson: String, ledgerJson: String,
      cdcJson: String, scaleJson: String,
      scaleRatios: Seq[(String, Double)],
      topMedians: Seq[(String, Double)],
      sentinelJson: String, sentRatio: Double, contended: Boolean,
      ioRatio: Double, ioContended: Boolean,
      mins: Map[String, Double],
      failed: Seq[String])

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = SparkEntry.cpus
    // Bounded LOW-CORE mode (r16 verdict #2): the full methodology
    // (3 passes × ~126 queries + repass + 10× tier + sf1 soak) cannot
    // finish at 8 cores inside the driver's budget — BENCH_r16_c8 timed
    // out (rc 124) and the round shipped with no scaling evidence. When
    // the core count is low (< 16) or SPARK_GRAFT_BENCH_MODE=quick, the
    // harness keeps the same session shape, warm-up discipline and JSON
    // contract but runs ONE timed run per query and skips the
    // weather-robustness extras (repass, 10× tier, sf1 soak, CDC-read
    // probe, assert-mode delta, idle rechecks, retry attempts) — those
    // exist to harden the 32-core artifact of record, not the scaling
    // ratio, which compares per-query seconds across core counts.
    val quickMode = cpus.toInt < 16 ||
      sys.env.get("SPARK_GRAFT_BENCH_MODE").contains("quick")
    if (quickMode) System.err.println(
      s"[bench] quick mode (cpus=$cpus): 1 timed run/query; " +
        "repass/10x/sf1/cdc/assert-mode/idle-rechecks skipped")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // micros (not int96), exactly as Verify's session: the staged-write
      // path skips its pin-conf session clone when the session already
      // carries it, so the bench times the same plan Verify checks
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.ui.enabled", "false")
      // bound status-store growth across the ~50-query session so late
      // queries aren't taxed by state accumulated from earlier ones
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.sql.ui.retainedExecutions", "20")
      // shuffle/spill on tmpfs when available — same rationale as
      // Scratch.baseDir (disk weather must not show up as query time)
      .config("spark.local.dir", s"${graft.queries.Scratch.baseDir}/graft-spark-local")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // ---- scale corpus FIRST, before anything is timed ----
    val scaleDirOpt: Option[String] =
      if (quickMode ||
          sys.env.get("SPARK_GRAFT_SCALE_TIER").contains("off")) None
      else try {
        Some(graft.tools.ScaleUp.ensure(spark, sfDir,
          sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR",
            s"${graft.queries.Scratch.baseDir}/graft-scale10x")))
      } catch { case e: Throwable =>
        System.err.println(s"[bench] scale tier skipped: ${e.getMessage}")
        None
      }
    spark.sharedState.cacheManager.clearCache()
    System.gc()

    // session warm-up: JVM, codegen, parquet footer cache
    spark.read.parquet(s"$sfDir/region.parquet").count()

    graft.util.Phase.enable()
    // TIMED passes run the streaming lifecycle queries WITHOUT their
    // per-micro-batch gold≡recompute asserts (the assertion is a full
    // recompute per batch — CI validation, not engine work; specs and
    // Verify keep it on by default). One assert-on run is recorded
    // beside the timed numbers below ("assert_mode") so the delta is
    // in-artifact.
    sys.props("graft.lifecycle.asserts") = "off"
    val queries = SparkEntry.queries

    // ---- idle-window gate: probe the sentinel alone; don't start a
    // pass on a machine the probe already proves busy ----
    val idleTries = sys.env.getOrElse("SPARK_GRAFT_IDLE_TRIES", "4").toInt
    val idleSleepSec = sys.env.getOrElse("SPARK_GRAFT_IDLE_SLEEP_SEC", "40").toInt
    val gateProbes = scala.collection.mutable.ArrayBuffer.empty[Double]
    def awaitIdle(): Unit = {
      var t = 0
      while (t < idleTries) {
        val r = graft.util.BenchSentinel.measure(spark, cpus.toInt) /
          graft.util.BenchSentinel.expectedFor(cpus.toInt)
        gateProbes += r
        if (r <= graft.util.BenchSentinel.ContendedRatio) return
        t += 1
        System.err.println(f"[bench] gate: sentinel ratio $r%.2f — busy;" +
          s" sleeping ${idleSleepSec}s (probe $t/$idleTries)")
        if (t < idleTries) Thread.sleep(idleSleepSec * 1000L)
      }
      System.err.println(s"[bench] gate: no idle window after $idleTries" +
        " probes — proceeding anyway (evidence recorded in gate_ratios)")
    }

    def runPass(attempt: Int): Pass = {
      val unstable = scala.collection.mutable.ArrayBuffer.empty[(String, Seq[Double])]
      val ledgers = scala.collection.mutable.LinkedHashMap.empty[String, (Seq[Double], Seq[(String, Double, Long)], Seq[graft.util.Phase.Jobs], Double)]

      val loadavgStart = graft.util.BenchSentinel.loadavg
      val sentinelStart = graft.util.BenchSentinel.measure(spark, cpus.toInt)
      // IO-sensitive probe (r14 verdict #1b): the CPU sentinel is blind
      // to page-cache/storage/memory-bandwidth weather, which is what
      // the commit-heavy lifecycle queries pay — probe it explicitly
      val ioStart = graft.util.BenchSentinel.ioMeasure()

      def timeQuery(name: String, dir: String, runsN: Int): (Double, Double) = {
        val fn = queries(name)
        var unattributed = 0.0
        def once(): Double = {
          val (ok, sec, un) = graft.util.Phase.measure {
            try {
              val df = fn(spark, dir)
              graft.util.Phase.timed("query.result")(
                df.queryExecution.toRdd.count())
              true
            } catch { case e: Throwable =>
              System.err.println(s"[bench] $name failed: ${e.getMessage}")
              false
            }
          }
          if (!ok) return -1.0
          unattributed += un
          // localCheckpoint blocks (shingle/centroid frames) register as
          // persistent RDDs that clearCache does NOT free and the
          // ContextCleaner frees only after a GC notices the dead refs —
          // across ~200 runs the leftovers saturate storage memory and
          // late-session heavy queries measure eviction churn, not plan
          // cost (observed: scale-tier minhash 119 s in-session vs 3.8 s
          // fresh-session, SAME binary). Unpersist them explicitly, after
          // the clock stops.
          // blocking: an async unpersist can still be draining when the
          // next run's checkpoint writes land, re-creating the churn
          spark.sparkContext.getPersistentRDDs.values
            .foreach(_.unpersist(blocking = true))
          sec
        }
        // one UNTIMED warm-up run per query: the first execution carries
        // JIT/codegen/file-cache warm-up that would otherwise trip the
        // 2×-median instability flag on every sub-second query and bake
        // one cold sample into the median
        once()
        if (lifecycle(name)) graft.util.Phase.reset()
        unattributed = 0.0
        val runs = Seq.fill(runsN)(once()).filter(_ >= 0)
        if (lifecycle(name) && runs.nonEmpty)
          ledgers(name) = (runs, graft.util.Phase.snapshot().take(10),
            graft.util.Phase.jobs().filter(_.jobs > 0), unattributed)
        // level the field for the next query (see scaladoc)
        spark.sharedState.cacheManager.clearCache()
        System.gc()
        if (runs.isEmpty) return (-1.0, -1.0)
        val med = median(runs)
        if (runs.exists(r => r > 2 * med || (med > 0.2 && r < med / 2))) {
          unstable += (name -> runs)
          System.err.println(s"[bench] UNSTABLE $name runs=" +
            runs.map(fmt).mkString(","))
        }
        (runs.min, med)
      }

      val results = headline.filter(queries.contains)
        .map(n => n -> timeQuery(n, sfDir, if (quickMode) 1 else 3))
      // a query whose EVERY run failed must fail loudly in the artifact
      // (r16 verdict #5): summing over `filter(_ >= 0)` would otherwise
      // silently SHRINK a frozen-set total — a regression reading as a win
      val failed = results.collect { case (n, (mn, _)) if mn < 0 => n }
      if (failed.nonEmpty) System.err.println(
        s"[bench] FAILED queries (all runs): ${failed.mkString(",")}")

      // ---- repeated-consumer CDC read cost ----
      // q_table_changes{,_materialized} time build+read in one number (they
      // must — the oracle needs a self-contained lifecycle), which buries
      // the read path under scratch-table IO and counts materialization's
      // commit-time writes against it. The claim write-time CDC exists for
      // is REPEATED readers, so measure that directly: build one lifecycle
      // table per mode (untimed), then time the changelog read alone.
      val cdcRead: Seq[(String, (Double, Double))] =
        (if (quickMode) Seq.empty[Boolean] else Seq(false, true)).map { mat =>
          val label = if (mat) "materialized" else "reconstruct"
          val loc = s"${graft.queries.Scratch.baseDir}/graft-bench-cdc-$label-" +
            java.util.UUID.randomUUID()
          graft.queries.Scratch.deleteOnExit(loc)
          val t = graft.queries.TableQueries
            .buildChangesLifecycle(spark, sfDir, loc, materialize = mat)
          def once(): Double = {
            val t0 = System.nanoTime()
            graft.queries.TableQueries.readChangesFrame(t)
              .queryExecution.toRdd.count()
            (System.nanoTime() - t0) / 1e9
          }
          once() // warm-up
          val runs = Seq.fill(3)(once())
          spark.sharedState.cacheManager.clearCache()
          System.gc()
          label -> (runs.min, median(runs))
        }
      val cdcJson = cdcRead.map { case (k, (mn, md)) =>
        "\"" + k + "_sec\":" + fmt(mn) + ",\"" + k + "_median\":" + fmt(md)
      }.mkString("{", ",", "}")

      // ---- 10× scale tier (corpus pre-generated above; same 3-run
      // min+median discipline as the base pass) ----
      val scaleResults: Seq[(String, (Double, Double))] = scaleDirOpt.toSeq
        .flatMap { scaleDir =>
          scaleQueries.filter(queries.contains)
            .map(n => n -> timeQuery(n, scaleDir, 3))
        }

      val baseMin = results.toMap
      val scaleRatios = scaleResults.map { case (k, (mn, _)) =>
        val base = baseMin.getOrElse(k, (-1.0, -1.0))._1
        k -> (if (base > 0 && mn >= 0) mn / base else -1.0)
      }
      val scaleJson = scaleResults.map { case (k, (mn, md)) =>
        val ratio = scaleRatios.toMap.getOrElse(k, -1.0)
        "\"" + k + "\":{\"sec\":" + fmt(mn) + ",\"median_sec\":" + fmt(md) +
          ",\"vs_base\":" + f"$ratio%.2f" + "}"
      }.mkString("{", ",", "}")

      val qs = results.map { case (k, (mn, _)) => "\"" + k + "\":" + fmt(mn) }
        .mkString("{", ",", "}")
      val qsMed = results.map { case (k, (_, md)) => "\"" + k + "\":" + fmt(md) }
        .mkString("{", ",", "}")
      val total = results.map(_._2._1).filter(_ >= 0).sum
      val coreSec = results.filterNot(r => lifecycle(r._1))
        .map(_._2._1).filter(_ >= 0).sum
      val lifeSec = results.filter(r => lifecycle(r._1))
        .map(_._2._1).filter(_ >= 0).sum
      // frozen-set totals: comparable round-over-round by construction
      val coreCmpSec = results
        .filter(r => comparable(r._1) && !lifecycle(r._1))
        .map(_._2._1).filter(_ >= 0).sum
      val lifeCmpSec = results
        .filter(r => comparable(r._1) && lifecycle(r._1))
        .map(_._2._1).filter(_ >= 0).sum
      val foreignCmpSec = results
        .filter(r => foreignComparable(r._1))
        .map(_._2._1).filter(_ >= 0).sum
      val unstableJson = unstable.map(u => "\"" + u._1 + "\"")
        .mkString("[", ",", "]")
      val unstableRunsJson = unstable.map { case (n, runs) =>
        "\"" + n + "\":" + runs.map(fmt).mkString("[", ",", "]")
      }.mkString("{", ",", "}")
      // per lifecycle query, summed over its timed runs: the flat span
      // ledger, the Spark jobs per label and the unattributed remainder
      def js(x: String) = "\"" + x.replace("\\", "\\\\").replace("\"", "\\\"")
        .replace("\n", "\\n") + "\""
      val ledgerJson = ledgers.map { case (n, (runs, phases, jobs, unattr)) =>
        js(n) + ":{\"runs\":" + runs.map(fmt).mkString("[", ",", "]") +
          ",\"phases\":{" + phases.map { case (p, s, c) =>
            js(p) + ":{\"sec\":" + fmt(s) + ",\"n\":" + c + "}"
          }.mkString(",") + "},\"jobs\":{" + jobs.map { j =>
            js(j.label) + ":{\"n\":" + j.jobs + ",\"sec\":" + fmt(j.jobSec) +
              ",\"task_sec\":" + fmt(j.taskSec) + ",\"bytes_read\":" +
              j.bytesRead + ",\"bytes_written\":" + j.bytesWritten +
              ",\"shuffle_bytes\":" + j.shuffleBytes + ",\"parents\":" +
              j.parents.toSeq.sorted.map(js).mkString("[", ",", "]") + "}"
          }.mkString(",") + "},\"unattributed_sec\":" + fmt(unattr) + "}"
      }.mkString("{", ",", "}")

      // sentinel (end): contention arriving mid-session is caught here
      val loadavgEnd = graft.util.BenchSentinel.loadavg
      val sentinelEnd = graft.util.BenchSentinel.measure(spark, cpus.toInt)
      val ioEnd = graft.util.BenchSentinel.ioMeasure()
      val sentExp = graft.util.BenchSentinel.expectedFor(cpus.toInt)
      val sentRatio = math.max(sentinelStart, sentinelEnd) / sentExp
      val ioExp = graft.util.BenchSentinel.ioExpected
      val ioRatio = math.max(ioStart, ioEnd) / ioExp
      val ioContended = ioRatio > graft.util.BenchSentinel.IoContendedRatio
      if (ioContended) System.err.println(
        f"[bench] IO-CONTENDED: io sentinel ${math.max(ioStart, ioEnd)}%.3f s" +
          f" vs expected $ioExp%.3f s (ratio $ioRatio%.2f) — storage/" +
          "page-cache weather the CPU probe cannot see")
      val contended = sentRatio > graft.util.BenchSentinel.ContendedRatio
      if (contended) System.err.println(
        f"[bench] CONTENDED: sentinel ${math.max(sentinelStart, sentinelEnd)}%.3f s" +
          f" vs expected $sentExp%.3f s (ratio $sentRatio%.2f) — numbers in" +
          " this pass ran on a busy machine")
      val sentinelJson = "{\"start_sec\":" + fmt(sentinelStart) +
        ",\"end_sec\":" + fmt(sentinelEnd) +
        ",\"expected_sec\":" + fmt(sentExp) +
        ",\"ratio\":" + f"$sentRatio%.2f" +
        ",\"io_start_sec\":" + fmt(ioStart) +
        ",\"io_end_sec\":" + fmt(ioEnd) +
        ",\"io_expected_sec\":" + fmt(ioExp) +
        ",\"io_ratio\":" + f"$ioRatio%.2f" +
        ",\"loadavg_start\":\"" + loadavgStart +
        "\",\"loadavg_end\":\"" + loadavgEnd + "\"}"

      val topMedians = results.map { case (k, (_, md)) => k -> md }
        .filter(_._2 >= 0).sortBy(-_._2).take(10)

      Pass(attempt, qs, qsMed, total, coreSec, lifeSec,
        coreCmpSec, lifeCmpSec, foreignCmpSec,
        unstable.map(_._1).toSeq, unstableJson, unstableRunsJson,
        ledgerJson, cdcJson, scaleJson, scaleRatios, topMedians,
        sentinelJson, sentRatio, contended, ioRatio, ioContended,
        results.map { case (k, (mn, _)) => k -> mn }.toMap,
        failed)
    }

    // ---- bounded retry: gate, run, and only if the pass came out
    // contended (and attempts remain) gate + run again; report the
    // best-sentinel pass with every attempt's ratio in-artifact ----
    val maxAttempts =
      if (quickMode) 1
      else sys.env.getOrElse("SPARK_GRAFT_BENCH_ATTEMPTS", "2").toInt
    require(maxAttempts >= 1,
      s"SPARK_GRAFT_BENCH_ATTEMPTS must be >= 1, got $maxAttempts")
    val attemptRatios = scala.collection.mutable.ArrayBuffer.empty[Double]
    var best: Pass = null
    var i = 0
    var cleanFound = false
    while (i < maxAttempts && !cleanFound) {
      awaitIdle()
      val p = runPass(i + 1)
      attemptRatios += p.sentRatio
      if (best == null || p.sentRatio < best.sentRatio) best = p
      cleanFound = !p.contended
      i += 1
    }

    val gateJson = gateProbes.map(r => f"$r%.2f").mkString("[", ",", "]")
    val attemptsJson = attemptRatios.map(r => f"$r%.2f").mkString("[", ",", "]")

    def onceNamed(name: String, dir: String): Double = {
      val fn = queries(name)
      val t0 = System.nanoTime()
      val ok = try { fn(spark, dir).queryExecution.toRdd.count(); true }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}"); false }
      val sec = (System.nanoTime() - t0) / 1e9
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = true))
      spark.sharedState.cacheManager.clearCache()
      System.gc()
      if (ok) sec else -1.0
    }

    // ---- frozen-set REPASS (r15 verdict #2: the comparable totals
    // must survive host weather, not merely evidence it): behind a
    // fresh idle gate, every frozen-set query gets two more timed runs
    // at the END of the session, and the comparable totals below are
    // computed over the per-query MIN across the main pass's three
    // runs AND this repass — min is the harness's steady-state
    // statistic everywhere else, and a weather episode now has to hit
    // BOTH ends of the session to move the number. Pass-1 totals stay
    // in the artifact beside the robust ones, with the definition
    // string, so the two are never conflated. ----
    val frozenSet: Seq[String] = headline.filter(n =>
      (comparable(n) || foreignComparable(n)) && queries.contains(n))
    val repassSent: Double =
      if (quickMode) -1.0
      else {
        awaitIdle()
        graft.util.BenchSentinel.measure(spark, cpus.toInt) /
          graft.util.BenchSentinel.expectedFor(cpus.toInt)
      }
    val repassMins: Map[String, Double] =
      if (quickMode) Map.empty
      else frozenSet.map { n =>
        val rs = Seq.fill(2)(onceNamed(n, sfDir)).filter(_ >= 0)
        n -> (if (rs.isEmpty) -1.0 else rs.min)
      }.toMap
    def robustMin(n: String): Double = {
      val a = best.mins.getOrElse(n, -1.0)
      val b = repassMins.getOrElse(n, -1.0)
      if (a < 0) b else if (b < 0) a else math.min(a, b)
    }
    val coreCmpRobust = frozenSet
      .filter(n => comparable(n) && !lifecycle(n))
      .map(robustMin).filter(_ >= 0).sum
    val lifeCmpRobust = frozenSet
      .filter(n => comparable(n) && lifecycle(n))
      .map(robustMin).filter(_ >= 0).sum
    val foreignCmpRobust = frozenSet
      .filter(foreignComparable)
      .map(robustMin).filter(_ >= 0).sum
    val comparableStat =
      if (quickMode) "per-query single timed run (low-core quick mode)"
      else "per-query min over main pass (3 runs) + " +
        "idle-gated end-of-session repass (2 runs)"

    // ---- sf1 SOAK: the frozen comparable CORE plus the scale-tier
    // queries, one wall-clock run each over the 10× corpus (sf0.1 × 10 ≈
    // sf1, ~6M lineitem) — a full decade of scale validation above the
    // per-round gate. Single-run by design: the soak answers "does the 2×
    // band hold a decade up / is anything super-linear past its fixed
    // floor", not a precision timing; sentinel probes bracket it so
    // weather is visible in-artifact. SPARK_GRAFT_SF1=off disables. ----
    val sf1Json: String =
      if (sys.env.get("SPARK_GRAFT_SF1").contains("off") ||
          scaleDirOpt.isEmpty) "null"
      else {
        val scaleDir = scaleDirOpt.get
        val soakSet = (headline.filter(n =>
          comparable(n) && !lifecycle(n)) ++ scaleQueries)
          .distinct.filter(queries.contains)
        val sentExp = graft.util.BenchSentinel.expectedFor(cpus.toInt)
        val s0 = graft.util.BenchSentinel.measure(spark, cpus.toInt) / sentExp
        val rs = soakSet.map(n => n -> onceNamed(n, scaleDir))
        val s1 = graft.util.BenchSentinel.measure(spark, cpus.toInt) / sentExp
        val ratios = rs.map { case (n, sec) =>
          val base = best.mins.getOrElse(n, -1.0)
          n -> (if (base > 0 && sec >= 0) sec / base else -1.0)
        }
        val total = rs.map(_._2).filter(_ >= 0).sum
        val qJson = rs.map { case (n, sec) =>
          "\"" + n + "\":" + fmt(sec) }.mkString("{", ",", "}")
        val rJson = ratios.map { case (n, r) =>
          "\"" + n + "\":" + f"$r%.2f" }.mkString("{", ",", "}")
        s"""{"total_sec":${fmt(total)},"n_queries":${rs.size},"runs_per_query":1,"sentinel_start_ratio":${f"$s0%.2f"},"sentinel_end_ratio":${f"$s1%.2f"},"queries":$qJson,"ratio_vs_sf01":$rJson}"""
      }

    // ---- assert-mode delta: one run per mode of the medallion
    // lifecycle queries, so the cost of the per-batch gold≡recompute
    // validation is recorded next to the engine-work number ----
    val assertJson: String = {
      val pairs = (if (quickMode) Seq.empty[String]
        else Seq("q_stream_pipeline", "q_stream_rollup",
          "q_ann_ivf_index_update"))
        .filter(queries.contains).flatMap { n =>
          sys.props("graft.lifecycle.asserts") = "on"
          val on = onceNamed(n, sfDir)
          sys.props("graft.lifecycle.asserts") = "off"
          val off = onceNamed(n, sfDir)
          Seq("\"" + n + "_asserts_on_sec\":" + fmt(on),
            "\"" + n + "_asserts_off_sec\":" + fmt(off))
        }
      pairs.mkString("{", ",", "}")
    }

    // ---- idle re-check (r13 verdict #3): any top-10 median or 10×
    // ratio that moved >30% vs the previous committed round's artifact —
    // plus any 10× ratio sitting above the 2.0 band regardless of
    // movement — is re-measured after an explicit idle gate, and BOTH
    // numbers land in the artifact. A loaded-machine outlier is then
    // dismissible (or confirmed) from the artifact of record alone,
    // instead of from uncommitted session logs. ----
    val prevArtifact: Option[(Int, String)] = {
      val re = "BENCH_r(\\d+)\\.json".r
      Option(new java.io.File(".").listFiles()).getOrElse(Array.empty)
        .flatMap(f => f.getName match {
          case re(n) => Some((n.toInt, f))
          case _ => None
        }).sortBy(-_._1).headOption.map { case (n, f) =>
          (n, new String(java.nio.file.Files.readAllBytes(f.toPath),
            java.nio.charset.StandardCharsets.UTF_8))
        }
    }
    val prevArtifactTxt: Option[String] = prevArtifact.map(_._2)
    // Prior-round numbers come from the artifact's `parsed` object —
    // the driver parses the summary line into real JSON for us (r15
    // verdict #4: the escaped-tail regexes needed a fix in r15 and
    // would break again; the parsed object can't). The regex path over
    // the tail's summary sections survives only as the fallback for
    // legacy artifacts whose summary line failed to parse.
    val prevParsed: Option[org.json4s.JValue] = prevArtifactTxt.flatMap {
      txt =>
        scala.util.Try(org.json4s.jackson.JsonMethods.parse(txt)).toOption
          .map(j => j \ "parsed").filter(_.isInstanceOf[org.json4s.JObject])
    }
    def parsedNumMap(key: String): Option[Map[String, Double]] =
      prevParsed.flatMap { p =>
        (p \ key) match {
          case org.json4s.JObject(fs) => Some(fs.collect {
            case (n, org.json4s.JDouble(v)) => n -> v
            case (n, org.json4s.JInt(v)) => n -> v.toDouble
            case (n, org.json4s.JDecimal(v)) => n -> v.toDouble
          }.toMap)
          case _ => None
        }
      }
    def summarySection(txt: String, key: String): String = {
      val i = txt.lastIndexOf(key)
      if (i < 0) "" else txt.substring(i, math.max(i, txt.indexOf("}", i)) + 1)
    }
    val prevMedians: Map[String, Double] =
      parsedNumMap("top10_median").orElse(prevArtifactTxt.map { txt =>
        val pair = """\\?"(q[0-9a-z_]+)\\?":\s*([0-9.]+)""".r
        pair.findAllMatchIn(summarySection(txt, "top10_median"))
          .map(m => m.group(1) -> m.group(2).toDouble).toMap
      }).getOrElse(Map.empty)
    val prevScaleRatios: Map[String, Double] =
      parsedNumMap("scale10x_ratio")
        .map(_.map { case (n, v) => ("q_" + n) -> v })
        .orElse(prevArtifactTxt.map { txt =>
          val pair = """\\?"([0-9a-z_]+)\\?":\s*([0-9.-]+)""".r
          pair.findAllMatchIn(summarySection(txt, "scale10x_ratio"))
            .map(m => ("q_" + m.group(1)) -> m.group(2).toDouble).toMap
        }).getOrElse(Map.empty)

    def moved(cur: Double, prev: Option[Double]): Boolean =
      cur > 0 && prev.exists(p => p > 0 && math.abs(cur / p - 1) > 0.30)
    def movement(cur: Double, prev: Option[Double]): Double =
      prev.filter(_ > 0).map(p => math.abs(math.log(cur / p)))
        .getOrElse(0.0)
    // median movers: EVERY mover is re-measured, biggest first (r15
    // verdict #5 — the old 6+3 caps left two sub-band movers
    // unmeasured for the cost of two idle runs; recheck_dropped must
    // be 0 by construction now, and stays in the artifact as the
    // invariant's witness)
    val medMovers =
      (if (quickMode) Seq.empty[(String, Double)] else best.topMedians)
      .filter { case (n, md) => moved(md, prevMedians.get(n)) }
      .sortBy { case (n, md) => -movement(md, prevMedians.get(n)) }
    // scale-ratio rechecks: a ratio ABOVE THE 2.0 BAND is never
    // dropped (r14 verdict #1a), and every sub-band mover is measured
    // too — no caps
    val scaleFlagged = best.scaleRatios.filter { case (n, r) =>
      r > 0 && (r > 2.0 || moved(r, prevScaleRatios.get(n))) }
    val scaleMovers = scaleFlagged.filter(_._2 > 2.0) ++
      scaleFlagged.filter(_._2 <= 2.0)
        .sortBy { case (n, r) => -movement(r, prevScaleRatios.get(n)) }
    val recheckDropped =
      if (quickMode) 0 // rechecks are skipped by design, not dropped
      else (best.topMedians.count { case (n, md) =>
        moved(md, prevMedians.get(n)) } - medMovers.size) +
        (scaleFlagged.size - scaleMovers.size)

    def idleRuns(n: String, dir: String): (Double, Double) = {
      onceNamed(n, dir) // warm-up, untimed
      val rs = Seq.fill(3)(onceNamed(n, dir)).filter(_ >= 0)
      if (rs.isEmpty) (-1.0, -1.0) else (rs.min, median(rs))
    }
    val idleRecheckEntries: Seq[(String, String, Double)] =
      medMovers.map { case (n, passMed) =>
        awaitIdle()
        val sent = graft.util.BenchSentinel.measure(spark, cpus.toInt) /
          graft.util.BenchSentinel.expectedFor(cpus.toInt)
        val (mn, md) = idleRuns(n, sfDir)
        (n,
          "\"" + n + "\":{\"pass_median_sec\":" + fmt(passMed) +
            ",\"prev_median_sec\":" +
            fmt(prevMedians.getOrElse(n, -1.0)) +
            ",\"idle_min_sec\":" + fmt(mn) +
            ",\"idle_median_sec\":" + fmt(md) +
            ",\"sentinel_ratio\":" + f"$sent%.2f" + "}",
          md)
      } ++ scaleMovers.flatMap { case (n, passRatio) =>
        scaleDirOpt.map { scaleDir =>
          awaitIdle()
          val sent = graft.util.BenchSentinel.measure(spark, cpus.toInt) /
            graft.util.BenchSentinel.expectedFor(cpus.toInt)
          val (baseMn, _) = idleRuns(n, sfDir)
          val (scaleMn, _) = idleRuns(n, scaleDir)
          val idleRatio =
            if (baseMn > 0 && scaleMn >= 0) scaleMn / baseMn else -1.0
          ("scale10x:" + n,
            "\"scale10x:" + n + "\":{\"pass_ratio\":" +
              f"$passRatio%.2f" + ",\"prev_ratio\":" +
              f"${prevScaleRatios.getOrElse(n, -1.0)}%.2f" +
              ",\"idle_base_sec\":" + fmt(baseMn) +
              ",\"idle_scale_sec\":" + fmt(scaleMn) +
              ",\"idle_ratio\":" + f"$idleRatio%.2f" +
              ",\"sentinel_ratio\":" + f"$sent%.2f" + "}",
            idleRatio)
        }
      }
    val idleRecheckJson =
      idleRecheckEntries.map(_._2).mkString("{", ",", "}")
    // bounded digest for the summary line: name -> idle median (or
    // idle 10x ratio), ≤7 entries by construction
    val idleRecheckShort = idleRecheckEntries
      .map { case (n, _, v) => "\"" + n + "\":" + fmt(v) }
      .mkString("{", ",", "}")

    // ---- interleaved lifecycle A/B vs the prior round's HEAD (r14
    // verdict #1c): tools/ab_lifecycle.py alternates prev/cur builds in
    // the same minutes and writes AB_LIFECYCLE.json (both SHAs inside);
    // embedding it makes the round-over-round lifecycle question
    // answerable from the artifact of record alone ----
    val abFile = new java.io.File("AB_LIFECYCLE.json")
    // repo HEAD, resolved without shelling out: a stale A/B (cur_sha ≠
    // the commit actually being benched) must never be embedded as if it
    // measured THIS build — the r16 artifact carried pre-optimization
    // ratios that way (r16 verdict #7 / "what's wrong" #2)
    val headSha: Option[String] = scala.util.Try {
      val head = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(".git/HEAD")),
        java.nio.charset.StandardCharsets.UTF_8).trim
      if (head.startsWith("ref: ")) {
        val refPath = java.nio.file.Paths.get(".git/" + head.drop(5))
        if (java.nio.file.Files.exists(refPath))
          new String(java.nio.file.Files.readAllBytes(refPath),
            java.nio.charset.StandardCharsets.UTF_8).trim
        else { // packed refs
          val packed = java.nio.file.Paths.get(".git/packed-refs")
          scala.io.Source.fromFile(packed.toFile).getLines()
            .find(_.endsWith(" " + head.drop(5)))
            .map(_.split(" ")(0)).getOrElse(sys.error("ref not found"))
        }
      } else head
    }.toOption
    val abJson: String =
      if (!abFile.exists()) "null"
      else {
        val raw = new String(
          java.nio.file.Files.readAllBytes(abFile.toPath),
          java.nio.charset.StandardCharsets.UTF_8)
          .replaceAll("\\s+", " ").trim
        // a truncated/empty file (interrupted ab run) spliced verbatim
        // would make the WHOLE artifact line unparseable — validate
        // before embedding, drop to null on damage
        scala.util.Try(
          org.json4s.jackson.JsonMethods.parse(raw)) match {
          case scala.util.Success(_) if raw.startsWith("{") =>
            val abCur = "\"cur_sha\": ?\"([0-9a-f]+)\"".r
              .findFirstMatchIn(raw).map(_.group(1))
            (abCur, headSha) match {
              case (Some(c), Some(h)) if c != h =>
                System.err.println(s"[bench] AB_LIFECYCLE.json is STALE " +
                  s"(cur_sha ${c.take(9)} != HEAD ${h.take(9)}) — " +
                  "embedding a stale marker, not its ratios")
                s"""{"stale":true,"cur_sha":"$c","head":"$h"}"""
              case _ => raw
            }
          case _ =>
            System.err.println(
              "[bench] AB_LIFECYCLE.json unparseable — not embedded")
            "null"
        }
      }
    val abShort: String =
      if (abJson == "null") "null"
      else if (abJson.startsWith("{\"stale\":true")) abJson
      else {
        val sha = "\"prev_sha\": ?\"([0-9a-f]+)\"".r
          .findFirstMatchIn(abJson).map(_.group(1).take(9)).getOrElse("?")
        val pair =
          "\"(q_[0-9a-z_]+)\": ?\\{[^}]*?\"cur_vs_prev\": ?([0-9.-]+)".r
        val ratios = pair.findAllMatchIn(abJson).map(m =>
          "\"" + m.group(1) + "\":" + m.group(2)).mkString(",")
        s"""{"prev_sha":"$sha","cur_vs_prev":{$ratios}}"""
      }

    // every query whose EVERY timed run failed, in-artifact and loud
    // (r16 verdict #8): an empty array is the clean-run witness; a name
    // here means its frozen-set total is NOT comparable this round
    val failedJson = best.failed.map("\"" + _ + "\"")
      .mkString("[", ",", "]")

    // stop BEFORE the artifact lines: nothing may write to stdout after
    // the final JSON line (build.sbt's StdoutOutput hands us the raw fd,
    // so these lines reach the driver unframed and unbuffered by sbt)
    spark.stop()

    // full artifact line (everything): prints FIRST so the compact
    // summary below is what a bounded tail capture retains
    println(s"""{"metric":"total","value":${fmt(best.total)},"unit":"sec","core30_sec":${fmt(best.coreSec)},"lifecycle_sec":${fmt(best.lifeSec)},"core_comparable_sec":${fmt(coreCmpRobust)},"lifecycle_comparable_sec":${fmt(lifeCmpRobust)},"foreign_comparable_sec":${fmt(foreignCmpRobust)},"comparable_stat":"$comparableStat","core_comparable_pass1_sec":${fmt(best.coreCmpSec)},"lifecycle_comparable_pass1_sec":${fmt(best.lifeCmpSec)},"foreign_comparable_pass1_sec":${fmt(best.foreignCmpSec)},"repass_sentinel_ratio":${f"$repassSent%.2f"},"failed_queries":$failedJson,"queries":${best.qs},"queries_median":${best.qsMed},"unstable":${best.unstableJson},"unstable_runs":${best.unstableRunsJson},"ledger":${best.ledgerJson},"cdc_read":${best.cdcJson},"scale10x":${best.scaleJson},"sf1":$sf1Json,"assert_mode":$assertJson,"idle_recheck":$idleRecheckJson,"recheck_dropped":$recheckDropped,"lifecycle_ab":$abJson,"sf":"$sfDir","attempt":${best.attempt},"attempt_ratios":$attemptsJson,"gate_ratios":$gateJson,"contended":${best.contended},"io_contended":${best.ioContended},"sentinel":${best.sentinelJson}}""")

    // round-over-round regression gate: the newest committed
    // BENCH_r{N}.json (driver artifact in the repo root) supplies the
    // prior round's frozen-set totals; the summary reports the ratios
    // so a foreign/core/lifecycle regression is visible IN the bench
    // line itself, not only to a judge diffing two files
    val prevJson: String = prevArtifact.map { case (n, txt) =>
      def grab(key: String): Option[Double] = {
        // prefer the driver's `parsed` summary object; legacy
        // artifacts whose summary line failed to parse fall back to
        // matching the value in the escaped "tail" transcript
        val fromParsed = prevParsed.flatMap(p => (p \ key) match {
          case org.json4s.JDouble(v) => Some(v)
          case org.json4s.JInt(v) => Some(v.toDouble)
          case org.json4s.JDecimal(v) => Some(v.toDouble)
          case _ => None
        })
        fromParsed.orElse {
          val r = ("\"" + key + "\\\\?\":\\s*([0-9.]+)").r
          r.findAllMatchIn(txt).toSeq.lastOption.map(_.group(1).toDouble)
        }
      }
      def ratio(key: String, cur: Double): String =
        grab(key).filter(_ > 0)
          .map(p => f"""\"$key%s_vs_r$n%d\":${cur / p}%.3f""")
          .getOrElse("")
      val parts = Seq(
        ratio("core_comparable_sec", coreCmpRobust),
        ratio("lifecycle_comparable_sec", lifeCmpRobust),
        ratio("foreign_comparable_sec", foreignCmpRobust))
        .filter(_.nonEmpty)
      if (parts.isEmpty) "null"
      else parts.mkString("{", ",", "}")
    }.getOrElse("null")

    // compact summary LAST (r7 verdict #1): totals + contamination flag +
    // 10× ratios + ten slowest medians, bounded well under 1.5 kB
    val scaleRatioJson = best.scaleRatios
      .map { case (k, r) => "\"" + k.stripPrefix("q_") + "\":" + f"$r%.2f" }
      .mkString("{", ",", "}")
    val topJson = best.topMedians
      .map { case (k, md) => "\"" + k + "\":" + fmt(md) }
      .mkString("{", ",", "}")
    val unstableShort = best.unstableNames.take(8)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // compact sf1 digest for the summary line: total + five worst ratios
    val sf1Short: String =
      if (sf1Json == "null") "null"
      else {
        val totalRe = "\"total_sec\":([0-9.]+)".r
        val t = totalRe.findFirstMatchIn(sf1Json).map(_.group(1)).getOrElse("-1")
        val pairRe = "\"(q[^\"]+)\":([0-9.-]+)".r
        val ratioSec = sf1Json.substring(sf1Json.indexOf("ratio_vs_sf01"))
        val worst = pairRe.findAllMatchIn(ratioSec)
          .map(m => m.group(1) -> m.group(2).toDouble).toSeq
          .sortBy(-_._2).take(5)
          .map { case (n, r) => "\"" + n.stripPrefix("q_") + "\":" + f"$r%.2f" }
          .mkString("{", ",", "}")
        s"""{"total_sec":$t,"worst_ratio":$worst}"""
      }
    println(s"""{"metric":"summary","value":${fmt(best.total)},"unit":"sec","core30_sec":${fmt(best.coreSec)},"lifecycle_sec":${fmt(best.lifeSec)},"core_comparable_sec":${fmt(coreCmpRobust)},"lifecycle_comparable_sec":${fmt(lifeCmpRobust)},"foreign_comparable_sec":${fmt(foreignCmpRobust)},"comparable_stat":"min(pass1x3,repass x2)","core_comparable_pass1_sec":${fmt(best.coreCmpSec)},"lifecycle_comparable_pass1_sec":${fmt(best.lifeCmpSec)},"foreign_comparable_pass1_sec":${fmt(best.foreignCmpSec)},"repass_sentinel_ratio":${f"$repassSent%.2f"},"sf":"$sfDir","attempt":${best.attempt},"attempt_ratios":$attemptsJson,"gate_ratios":$gateJson,"contended":${best.contended},"sentinel_ratio":${f"${best.sentRatio}%.2f"},"io_contended":${best.ioContended},"io_ratio":${f"${best.ioRatio}%.2f"},"prev_round_ratio":$prevJson,"scale10x_ratio":$scaleRatioJson,"sf1":$sf1Short,"idle_recheck":$idleRecheckShort,"recheck_dropped":$recheckDropped,"lifecycle_ab":$abShort,"failed_queries":$failedJson,"top10_median":$topJson,"unstable":$unstableShort}""")
    System.out.flush()
  }
}
