package graft.table

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Hidden partitioning (Iceberg partition transforms): days/bucket/
  * truncate specs stored in the snapshot, applied at write, pruned at
  * read through the transform — no derived column ever appears in the
  * table schema or query results. */
class PartitionTransformSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String) = GraftTable(spark, tmpDir(name) + "/t")

  /** numFiles actually read by the executed scan (unwraps AQE). */
  private def scannedFiles(df: org.apache.spark.sql.DataFrame): Long = {
    df.collect()
    def scans(p: org.apache.spark.sql.execution.SparkPlan): Long = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        scans(a.executedPlan)
      case other => other.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }.sum
    }
    scans(df.queryExecution.executedPlan)
  }

  private def tsRows(days: Int, perDay: Int) = for {
    d <- 0 until days; i <- 0 until perDay
  } yield (d.toLong * perDay + i,
    new java.sql.Timestamp(1704067200000L + d * 86400000L + i * 1000L),
    s"v$d-$i")

  test("days(ts): writes land in date dirs; source column stays in files") {
    val t = freshTable("pt-days")
    t.append(tsRows(4, 10).toDF("id", "ts", "v"), parts = Seq("days(ts)"))
    // dir layout is by derived UTC date
    val kv = t.liveFiles().map(t.partitionValues)
    assert(kv.forall(_.contains("ts_day")))
    assert(kv.map(_("ts_day")).distinct.sorted ===
      Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"))
    // no leaked columns: schema and read output are the logical columns
    assert(t.schema.fieldNames.toSeq === Seq("id", "ts", "v"))
    assert(t.read().columns.toSeq === Seq("id", "ts", "v"))
    // and ts itself survives in the data (identity partitioning would
    // have moved it into the dir)
    assert(t.read().filter($"id" === 0L).select("ts")
      .as[java.sql.Timestamp].collect()(0).getTime === 1704067200000L)
    assert(t.read().count() === 40)
  }

  test("days(ts): a date predicate on the SOURCE column prunes dirs") {
    val t = freshTable("pt-days-prune")
    t.append(tsRows(4, 10).toDF("id", "ts", "v"), parts = Seq("days(ts)"))
    assert(t.liveFiles().size >= 4)
    val all = spark.read.format("graft").load(t.location)
    val perDay = t.liveFiles().size / 4
    // equality day: only that day's files are scanned
    val oneDay = all.filter($"ts" >= lit("2024-01-02 00:00:00") &&
      $"ts" < lit("2024-01-03 00:00:00"))
    assert(oneDay.count() === 10)
    assert(scannedFiles(oneDay) <= 2L * perDay) // day 2 (+boundary day 3)
    // range: later days pruned
    val firstTwo = all.filter($"ts" < lit("2024-01-03 00:00:00"))
    assert(firstTwo.count() === 20)
    assert(scannedFiles(firstTwo) <= 2L * perDay)
    // correctness against the unpruned ground truth
    assert(oneDay.select("id").as[Long].collect().sorted ===
      (10L until 20L).toArray)
  }

  test("TIMESTAMP_NTZ source: days() writes the same UTC dirs and the " +
      "pruning transform matches them (the r10 fix — NTZ tables were " +
      "writable but every pruned read was conservatively unpruned)") {
    val t = freshTable("pt-days-ntz")
    // NTZ column: same micros, no zone; cast through NTZ explicitly
    val rows = tsRows(4, 10).toDF("id", "ts", "v")
      .withColumn("ts", $"ts".cast("timestamp_ntz"))
    t.append(rows, parts = Seq("days(ts)"))
    assert(t.schema("ts").dataType ===
      org.apache.spark.sql.types.TimestampNTZType)
    val kv = t.liveFiles().map(t.partitionValues)
    assert(kv.map(_("ts_day")).distinct.sorted ===
      Seq("2024-01-01", "2024-01-02", "2024-01-03", "2024-01-04"))
    val all = spark.read.format("graft").load(t.location)
    val perDay = t.liveFiles().size / 4
    val oneDay = all.filter(
      $"ts" >= lit("2024-01-02 00:00:00").cast("timestamp_ntz") &&
      $"ts" < lit("2024-01-03 00:00:00").cast("timestamp_ntz"))
    assert(oneDay.count() === 10)
    // the point of the fix: the scan is PRUNED, not a full read
    assert(scannedFiles(oneDay) <= 2L * perDay)
    assert(oneDay.select("id").as[Long].collect().sorted ===
      (10L until 20L).toArray)
  }

  test("months(ts): multi-month range prunes; dirs stay coarse") {
    val t = freshTable("pt-months")
    // 90 days spanning 2024-01..2024-03
    val rows = (0 until 90).map(d => (d.toLong,
      new java.sql.Timestamp(1704067200000L + d.toLong * 86400000L), s"v$d"))
    t.append(rows.toDF("id", "ts", "v"), parts = Seq("months(ts)"))
    val kv = t.liveFiles().map(t.partitionValues)
    assert(kv.map(_("ts_month")).distinct.sorted ===
      Seq("2024-01", "2024-02", "2024-03"))
    val all = spark.read.format("graft").load(t.location)
    val feb = all.filter($"ts" >= lit("2024-02-01 00:00:00") &&
      $"ts" < lit("2024-03-01 00:00:00"))
    assert(feb.count() === 29) // 2024 is a leap year
    val perMonth = t.liveFiles().size / 3
    assert(scannedFiles(feb) <= 2L * perMonth)
    assert(all.filter($"ts" < lit("2024-02-01 00:00:00")).count() === 31)
  }

  test("hours(ts): hourly dirs for event-time layouts; an hour-range " +
      "predicate on the source column prunes to that hour's files") {
    val t = freshTable("pt-hours")
    // 48 rows across 4 hours of 2024-01-01
    val rows = for { h <- 0 until 4; i <- 0 until 12 } yield
      (h.toLong * 12 + i,
        new java.sql.Timestamp(1704067200000L + h * 3600000L + i * 1000L),
        s"v$h-$i")
    t.append(rows.toDF("id", "ts", "v"), parts = Seq("hours(ts)"))
    val kv = t.liveFiles().map(t.partitionValues)
    assert(kv.forall(_.contains("ts_hour")))
    assert(kv.map(_("ts_hour")).distinct.sorted === Seq(
      "2024-01-01-00", "2024-01-01-01", "2024-01-01-02", "2024-01-01-03"))
    assert(t.schema.fieldNames.toSeq === Seq("id", "ts", "v"))
    val all = spark.read.format("graft").load(t.location)
    val perHour = t.liveFiles().size / 4
    val oneHour = all.filter($"ts" >= lit("2024-01-01 01:00:00") &&
      $"ts" < lit("2024-01-01 02:00:00"))
    assert(oneHour.count() === 12)
    assert(scannedFiles(oneHour) <= 2L * perHour) // hour 1 (+boundary)
    assert(oneHour.select("id").as[Long].collect().sorted ===
      (12L until 24L).toArray)
  }

  test("years(ts): multi-year range prunes to the predicate's years") {
    val t = freshTable("pt-years")
    // 3 years: 2023, 2024, 2025 — 6 rows each, mid-year anchors so no
    // leap-day arithmetic can slide a row across a year boundary
    val anchors = Seq("2023-06-15", "2024-06-15", "2025-06-15").map(d =>
      java.sql.Timestamp.valueOf(s"$d 00:00:00").getTime)
    val rows = for { y <- 0 until 3; i <- 0 until 6 } yield
      (y.toLong * 6 + i,
        new java.sql.Timestamp(anchors(y) + i * 3600000L), s"v$y")
    t.append(rows.toDF("id", "ts", "v"), parts = Seq("years(ts)"))
    val kv = t.liveFiles().map(t.partitionValues)
    assert(kv.map(_("ts_year")).distinct.sorted === Seq("2023", "2024", "2025"))
    val all = spark.read.format("graft").load(t.location)
    val perYear = t.liveFiles().size / 3
    val y24 = all.filter($"ts" >= lit("2024-01-01 00:00:00") &&
      $"ts" < lit("2025-01-01 00:00:00"))
    assert(y24.count() === 6)
    assert(scannedFiles(y24) <= 2L * perYear)
    assert(all.filter($"ts" < lit("2024-01-01 00:00:00")).count() === 6)
  }

  test("bucket(n, id): equality prunes to one bucket") {
    val t = freshTable("pt-bucket")
    t.append((1L to 400L).map(i => (i, s"v$i")).toDF("id", "v"),
      parts = Seq("bucket(8, id)"))
    val buckets = t.liveFiles().map(t.partitionValues(_)("id_bucket8m")).distinct
    assert(buckets.size > 1, "expected multiple bucket dirs")
    val all = spark.read.format("graft").load(t.location)
    val one = all.filter($"id" === 137L)
    assert(one.select("v").as[String].collect() === Array("v137"))
    val totalFiles = t.liveFiles().size
    assert(scannedFiles(one) < totalFiles,
      "bucket equality should scan a strict subset of files")
    // range predicates cannot prune buckets but stay correct
    assert(all.filter($"id" <= 10L).count() === 10)
  }

  test("truncate(w, col): prefix ranges prune; merge works on transform tables") {
    val t = freshTable("pt-trunc")
    val rows = ('a' to 'h').flatMap(c =>
      (1 to 5).map(i => (s"$c$i-key", s"$c", i.toLong)))
    t.append(rows.toDF("name", "grp", "ts"), parts = Seq("truncate(1, name)"))
    val all = spark.read.format("graft").load(t.location)
    val cOnly = all.filter($"name" >= "c" && $"name" < "d")
    assert(cOnly.count() === 5)
    assert(scannedFiles(cOnly) < t.liveFiles().size)

    // COW merge on a hidden-partitioned table: update one key, insert one
    t.merge(Seq(("c3-key", "c", 9L), ("z9-key", "z", 9L))
      .toDF("name", "grp", "ts"),
      keys = Seq("name"), dedupKey = Seq("name"), orderCol = "ts")
    val out = t.read()
    assert(out.count() === 41)
    assert(out.filter($"name" === "c3-key").select("ts").as[Long]
      .collect() === Array(9L))
    assert(out.filter($"name" === "z9-key").count() === 1)
    // untouched prefixes were not rewritten
    val removed = t.removedFilesOf(t.snapshots.last)
    assert(removed.forall(f =>
      t.partitionValues(f).get("name_trunc1").contains("c")))
  }

  test("mixed identity+transform specs are rejected; sources validated") {
    val t = freshTable("pt-mixed")
    val sch = Seq((1L, "a")).toDF("id", "v").schema
    intercept[IllegalArgumentException] {
      t.create(sch, parts = Seq("v", "bucket(4, id)"))
    }
    intercept[IllegalArgumentException] {
      t.create(sch, parts = Seq("days(nope)"))
    }
  }

  test("transform/source-type mismatch is rejected at CREATE, not first " +
      "pruned read (hours() needs a timestamp; a DateType source would " +
      "write dirs no read could prune through)") {
    val dSch = Seq((1L, java.sql.Date.valueOf("2024-01-01")))
      .toDF("id", "d").schema
    val e = intercept[IllegalArgumentException] {
      freshTable("pt-hours-date").create(dSch, parts = Seq("hours(d)"))
    }
    assert(e.getMessage.contains("hours") && e.getMessage.contains("date"))
    // same guard on the spec-evolution path
    val t = freshTable("pt-hours-evolve")
    t.create(dSch, parts = Seq("days(d)"))
    val e2 = intercept[IllegalArgumentException](
      t.updatePartitionSpec(Seq("hours(d)")))
    assert(e2.getMessage.contains("hours"))
    // transforms with an honest DateType meaning still work
    freshTable("pt-days-date").create(dSch, parts = Seq("days(d)"))
    // and strings reject time transforms too
    val sSch = Seq((1L, "x")).toDF("id", "s").schema
    intercept[IllegalArgumentException] {
      freshTable("pt-days-str").create(sSch, parts = Seq("days(s)"))
    }
  }

  test("graft.write.distribution=hash: one task per partition value") {
    val rows = tsRows(3, 40) // 3 days, 120 rows
    val sch = rows.toDF("id", "ts", "v").schema

    // without distribution: 8 input partitions × 3 day dirs → many files
    val plain = freshTable("pt-dist-none")
    plain.create(sch, parts = Seq("days(ts)"))
    plain.append(rows.toDF("id", "ts", "v").repartition(8))
    assert(plain.liveFiles().size > 3,
      s"expected task×dir file burst, got ${plain.liveFiles().size}")

    // with hash distribution: exactly one file per day dir
    val dist = freshTable("pt-dist-hash")
    dist.create(sch, parts = Seq("days(ts)"),
      properties = Map("graft.write.distribution" -> "hash"))
    dist.append(rows.toDF("id", "ts", "v").repartition(8))
    assert(dist.liveFiles().size === 3)
    assert(dist.read().count() === 120)
    // explicit sort-on-write clustering overrides distribution
    dist.append(tsRows(3, 10).map(r => (r._1 + 1000, r._2, r._3))
      .toDF("id", "ts", "v"), sortBy = Seq("id"), sortFiles = Some(2))
    assert(dist.read().count() === 150)
  }

  test("partition spec evolution: old layout conservative, new layout prunes") {
    val t = freshTable("pt-evolve")
    // January under months(ts), written as several id-range files so
    // the merge below rewrites only the one holding its key and the
    // rest stay in the old layout
    t.append(tsRows(31, 4).toDF("id", "ts", "v")
      .repartitionByRange(4, $"id"), parts = Seq("months(ts)"))
    val preEvolve = t.latestSnapshotId.get
    assert(t.liveFiles().forall(f =>
      t.partitionValues(f).contains("ts_month")))

    t.updatePartitionSpec(Seq("days(ts)"))
    assert(t.snapshots.last.operation === "set-spec")
    assert(t.partitionCols === Seq("days(ts)"))

    // new writes land in day dirs (old files untouched in month dirs)
    val extra = (0 until 3).map(i => (10000L + i,
      new java.sql.Timestamp(1704067200000L + 40L * 86400000L + i * 1000L),
      s"n$i"))
    t.append(extra.toDF("id", "ts", "v"))
    val newFiles = t.addedFilesOf(t.snapshots.last)
    assert(newFiles.forall(f =>
      t.partitionValues(f)("ts_day") === "2024-02-10"))

    // mixed-layout reads stay correct
    val all = spark.read.format("graft").load(t.location)
    assert(all.count() === 31 * 4 + 3)
    // predicate on the new-spec day scans only the new day's files plus
    // nothing from old dirs the stats can exclude — strictly fewer than
    // all files; old-layout rows stay visible to their own predicates
    val newDay = all.filter($"ts" >= lit("2024-02-10 00:00:00"))
    assert(newDay.count() === 3)
    assert(scannedFiles(newDay) < t.liveFiles().size)
    assert(all.filter($"ts" < lit("2024-01-05 00:00:00")).count() === 4 * 4)

    // merge across the evolution boundary: updates must find rows in
    // OLD-layout files (conservative partition match), inserts land new
    t.merge(Seq((0L,
      new java.sql.Timestamp(1704067200000L), "updated")).toDF("id", "ts", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id")
    assert(t.read().filter($"id" === 0L).select("v").as[String]
      .collect() === Array("updated"))
    assert(t.read().count() === 31 * 4 + 3)

    // incremental reads cross the zero-file set-spec snapshot
    assert(t.readIncremental(preEvolve, t.latestSnapshotId.get,
      skipRewrites = true).count() >= 3)

    // manifest/file pruning through liveFilesWhere stays conservative
    // across the boundary: a keep-filter on the NEW spec's phys column
    // keeps every old-layout file (no ts_day dir to judge by) while
    // pruning new-layout files to the kept day
    val keptFiles = t.liveFilesWhere(Map("ts_day" -> Set("2024-02-10")))
    val oldLayout = t.liveFiles().filter(f =>
      t.partitionValues(f).contains("ts_month"))
    assert(oldLayout.nonEmpty && oldLayout.forall(keptFiles.contains))
    assert(t.liveFiles().filter(f =>
      t.partitionValues(f).get("ts_day").exists(_ != "2024-02-10"))
      .forall(!keptFiles.contains(_)))


    // compaction migrates the WHOLE live set to the current spec — the
    // conservative no-pruning window for old-layout files is bounded by
    // the compaction cadence
    t.compact()
    assert(t.liveFiles().forall(f =>
      t.partitionValues(f).contains("ts_day")))
    assert(t.read().count() === 31 * 4 + 3)

    // identity history refuses evolution
    val idT = freshTable("pt-evolve-id")
    idT.append(Seq((1L, "a"), (2L, "b")).toDF("id", "grp"),
      parts = Seq("grp"))
    val e = intercept[IllegalArgumentException](
      idT.updatePartitionSpec(Seq("bucket(4, id)")))
    assert(e.getMessage.contains("identity"))
  }
}
