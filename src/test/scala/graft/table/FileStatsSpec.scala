package graft.table

import org.apache.spark.sql.SaveMode
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Per-file column min/max stats in the snapshot log (the Iceberg
  * manifest-stats analogue) and the two consumers that prune with them:
  * MergeInto (file-level COW/probe pruning below partition granularity)
  * and GraftFileIndex (data-filter file skipping before the scan).
  */
class FileStatsSpec extends SparkSpec {
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

  test("append records per-file min/max in the snapshot log, round-trips typed") {
    val t = freshTable("fs-record")
    val df = Seq((5L, "m", 2.5), (1L, "a", 0.5), (9L, "z", 9.5))
      .toDF("id", "v", "x")
    t.create(df.schema, properties = Map("graft.bloom.columns" -> "id"))
    t.append(df.coalesce(1))
    val live = t.liveFiles()
    assert(live.size === 1)
    val stats = t.statsFor(live)
    val cols = stats(live.head)
    assert((cols("id").min, cols("id").max) === (Some("1"), Some("9")))
    assert((cols("v").min, cols("v").max) === (Some("a"), Some("z")))
    assert(cols("id").bloom.isDefined) // declared column gets a bitset
    assert(cols("v").bloom.isEmpty) // undeclared column does not
    assert(cols("x").min.get.toDouble === 0.5)
    assert(cols("x").max.get.toDouble === 9.5)
  }

  test("stats come from footers: no data scan unless Bloom columns are declared") {
    val t = freshTable("fs-footer")
    val scansBefore = GraftTable.statsDataScans.get()
    val rows = (1L to 500L).map(i =>
      (i, s"v$i", new java.sql.Timestamp(1704067200000L + i * 1000L)))
    t.append(rows.toDF("id", "v", "ts")
      .withColumn("amt", col("id").cast("decimal(10,2)")).coalesce(1))
    // bounds + row counts recorded, yet zero value-level stats scans ran
    assert(GraftTable.statsDataScans.get() === scansBefore)
    val f = t.liveFiles().head
    val cols = t.statsFor(Seq(f))(f)
    assert((cols("id").min, cols("id").max) === (Some("1"), Some("500")))
    assert((cols("v").min, cols("v").max) === (Some("v1"), Some("v99")))
    assert(cols("ts").min.get.startsWith("2024-01-01 00:00:01"))
    assert(cols("ts").max.get.startsWith("2024-01-01 00:08:20"))
    assert(cols("amt").min === Some("1.00"))
    assert(cols("amt").max === Some("500.00"))
    assert(t.rowsFor(Seq(f))(f) === 500L)
    // a Bloom-declared table pays exactly one declared value pass
    val tb = freshTable("fs-footer-bloom")
    val df = Seq((1L, "a")).toDF("id", "v")
    tb.create(df.schema, properties = Map("graft.bloom.columns" -> "id"))
    tb.append(df)
    assert(GraftTable.statsDataScans.get() === scansBefore + 1)
  }

  test("unpartitioned merge rewrites ONLY files whose key range overlaps the batch") {
    val t = freshTable("fs-merge-prune")
    // two files with disjoint id ranges
    t.append((1L to 100L).map(i => (i, s"a$i", 1L)).toDF("id", "v", "ts")
      .coalesce(1))
    t.append((1000L to 1100L).map(i => (i, s"b$i", 1L)).toDF("id", "v", "ts")
      .coalesce(1))
    val before = t.liveFiles().toSet
    assert(before.size === 2)
    val loFile = before.find(f => t.statsFor(Seq(f))(f)("id").max.get.toLong <= 100L).get

    // batch touches only the 1000..1100 range
    t.merge(Seq((1000L, "updated", 2L), (2000L, "inserted", 2L))
      .toDF("id", "v", "ts"), keys = Seq("id"), dedupKey = Seq("id"),
      orderCol = "ts")

    val snap = t.snapshots.last
    assert(snap.operation === "merge")
    // the low-range file was never rewritten: still live, not removed
    assert(t.liveFiles().contains(loFile))
    assert(!t.removedFilesOf(snap).contains(loFile))
    assert(t.removedFilesOf(snap).size === 1)
    // and the data is correct: 100 + 101 existing, 1 updated in place, 1 insert
    val out = t.read()
    assert(out.count() === 202)
    assert(out.filter($"id" === 1000L).select("v").as[String].collect() ===
      Array("updated"))
  }

  test("merge with fully disjoint batch keeps every existing file (insert-only fast path)") {
    val t = freshTable("fs-merge-disjoint")
    t.append((1L to 50L).map(i => (i, s"a$i", 1L)).toDF("id", "v", "ts")
      .coalesce(1))
    val before = t.liveFiles().toSet
    t.merge(Seq((5000L, "new", 2L)).toDF("id", "v", "ts"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "ts")
    // no existing file's range overlaps id=5000 → nothing rewritten
    assert(t.removedFilesOf(t.snapshots.last).isEmpty)
    assert(before.subsetOf(t.liveFiles().toSet))
    assert(t.read().count() === 51)
  }

  test("merge prunes range-overlapping but Bloom-disjoint files") {
    val t = freshTable("fs-merge-bloom")
    val schema = Seq((0L, "", 0L)).toDF("id", "v", "ts").schema
    t.create(schema, properties = Map("graft.bloom.columns" -> "id"))
    // UNCLUSTERED: both files span the full id range — min/max alone
    // cannot prune either; only the Bloom bitset can tell them apart
    t.append((0L to 998L by 2).map(i => (i, s"even-$i", 1L))
      .toDF("id", "v", "ts").coalesce(1))
    t.append((1L to 999L by 2).map(i => (i, s"odd-$i", 1L))
      .toDF("id", "v", "ts").coalesce(1))
    val files = t.liveFiles().toSet
    assert(files.size === 2)
    // batch touches only even keys → the odd file must not be rewritten
    t.merge(Seq((500L, "upd", 2L), (600L, "upd2", 2L)).toDF("id", "v", "ts"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "ts")
    val removed = t.removedFilesOf(t.snapshots.last).toSet
    assert(removed.size === 1, s"expected 1 rewritten file, got $removed")
    assert(t.read().count() === 1000)
    assert(t.read().filter($"id" === 500L).select("v").as[String].collect() ===
      Array("upd"))
    assert(t.read().filter($"id" === 501L).select("v").as[String].collect() ===
      Array("odd-501")) // untouched file intact
  }

  test("merge point-probes prune value gaps inside overlapping ranges") {
    val t = freshTable("fs-merge-gap")
    // two files whose RANGES overlap the batch range [150, 1050] but
    // whose values cannot match the batch's two point keys
    t.append((100L to 200L).map(i => (i, s"a$i", 1L)).toDF("id", "v", "ts")
      .coalesce(1))
    t.append((1000L to 1100L).map(i => (i, s"b$i", 1L)).toDF("id", "v", "ts")
      .coalesce(1))
    // batch keys {99, 201}: their RANGE [99,201] overlaps file A's
    // [100,200], so range pruning alone would rewrite A — but neither
    // point value can actually be in the file, and the per-value probe
    // sees that from min/max alone
    t.merge(Seq((99L, "new1", 2L), (201L, "new2", 2L)).toDF("id", "v", "ts"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "ts")
    assert(t.removedFilesOf(t.snapshots.last).isEmpty,
      "insert-only batch in a value gap must rewrite nothing")
    assert(t.read().count() === 204)
  }

  test("scan skips files whose recorded range cannot satisfy the pushed filter") {
    val dir = tmpDir("fs-scan-skip") + "/t"
    val t = GraftTable(spark, dir)
    t.append((1L to 100L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    t.append((1000L to 1100L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
    t.append((5000L to 5100L).map(i => (i, s"c$i")).toDF("id", "v").coalesce(1))

    val all = spark.read.format("graft").load(dir)
    assert(all.inputFiles.length === 3)
    // equality inside one file's range
    assert(scannedFiles(all.filter($"id" === 1050L)) === 1)
    // range predicate spanning two files
    assert(scannedFiles(all.filter($"id" >= 1000L)) === 2)
    // IN list hitting two files
    assert(scannedFiles(all.filter($"id".isin(5L, 5050L))) === 2)
    // string bounds prune too
    assert(scannedFiles(all.filter($"v" === "c5000")) === 1)
    // non-prunable filter keeps everything (correctness over pruning)
    assert(scannedFiles(all.filter(length($"v") > 1)) === 3)
    // results are still correct
    assert(all.filter($"id" === 1050L).select("v").as[String].collect() ===
      Array("b1050"))
  }

  test("NESTED-LEAF stats: struct leaves record dotted bounds, the " +
      "scan prunes on struct-leaf predicates, and the Iceberg export " +
      "carries them under the leaves' field ids for foreign pruning") {
    val dir = tmpDir("fs-nested-stats") + "/t"
    val t = GraftTable(spark, dir)
    def frame(lo: Long, hi: Long) = (lo to hi)
      .map(i => (i, (i * 10, s"s$i"), i * 1.0))
      .toDF("id", "cust", "v")
      .withColumn("cust", struct($"cust._1".as("nid"), $"cust._2".as("st")))
    t.append(frame(1L, 100L).coalesce(1))
    t.append(frame(1000L, 1100L).coalesce(1))
    // the snapshot log records the struct leaf under its dotted path
    val stats = t.statsFor(t.liveFiles())
    assert(stats.nonEmpty && stats.values.forall(_.contains("cust.nid")),
      s"dotted leaf stats missing: ${stats.values.map(_.keys)}")
    // scan pruning on a struct-leaf predicate
    val all = spark.read.format("graft").load(dir)
    assert(all.inputFiles.length === 2)
    assert(scannedFiles(all.filter($"cust.nid" > 9000L)) === 1)
    assert(all.filter($"cust.nid" > 9000L).count() === 101L)
    // string leaf too
    assert(scannedFiles(all.filter($"cust.st" === "s50")) === 1)
    // export: manifests key the leaf bounds by the NESTED field ids,
    // so the foreign importer's readWhere prunes the same way
    graft.iceberg.IcebergExport.export(spark, t)
    val p = graft.iceberg.IcebergImport.plan(spark, dir)
    assert(p.files.size === 2 &&
      p.files.forall(f => f.lower.contains("cust.nid")),
      s"exported nested bounds missing: ${p.files.map(_.lower.keys)}")
    val fr = graft.iceberg.IcebergImport.readWhere(spark, dir,
      $"cust.nid" > 9000L)
    assert(fr.inputFiles.length === 1 && fr.count() === 101L)
  }

  test("files without recorded stats are conservatively kept") {
    // simulate pre-stats files by stripping the stats from every
    // manifest entry in the log
    val dir = tmpDir("fs-nostats") + "/t"
    val t = GraftTable(spark, dir)
    t.append((1L to 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    val metaDir = new java.io.File(dir, "_graft")
    metaDir.listFiles().filter(_.getName.startsWith("manifest-")).foreach { f =>
      val json = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      val m = Manifest.fromJson(json)
      val stripped = Manifest.toJson(Manifest(m.entries.map(_.copy(stats = None))))
      java.nio.file.Files.write(f.toPath, stripped.getBytes("UTF-8"))
      new java.io.File(metaDir, s".${f.getName}.crc").delete() // stale now
    }
    GraftTable.clearMetaCaches()
    val t2 = GraftTable(spark, dir)
    assert(t2.statsFor(t2.liveFiles()).isEmpty)
    val back = spark.read.format("graft").load(dir).filter($"id" === 99L)
    assert(back.count() === 0) // no rows, but the file was scanned, not skipped
    // merge still correct without stats
    t2.merge(Seq((1L, "upd")).toDF("id", "v"), keys = Seq("id"),
      dedupKey = Seq("id"), orderCol = "id")
    assert(t2.read().filter($"id" === 1L).select("v").as[String].collect() ===
      Array("upd"))
  }

  test("FileStats range logic: typed comparison, not lexicographic") {
    // 9 < 10 numerically but "9" > "10" lexicographically — must prune typed
    val stat = ColStat(Some("2"), Some("9"))
    assert(!FileStats.mayMatch(LongType, stat, "=", 10L))
    assert(FileStats.mayMatch(LongType, stat, "=", 9L))
    assert(FileStats.mayMatch(LongType, stat, "<", 3L))
    assert(!FileStats.mayMatch(LongType, stat, "<", 2L))
    assert(!FileStats.mayMatch(LongType, stat, ">", 9L))
    assert(FileStats.mayMatch(LongType, stat, ">=", 9L))
    assert(FileStats.rangesOverlap(LongType, stat, Some("9"), Some("100")))
    assert(!FileStats.rangesOverlap(LongType, stat, Some("10"), Some("100")))
    // missing bounds are "unknown" → never prune
    val open = ColStat(None, Some("5"))
    assert(FileStats.mayMatch(LongType, open, "<", -100L))
    assert(FileStats.rangesOverlap(LongType, open, None, None))
    // dates compare as dates
    val dstat = ColStat(Some("2024-01-05"), Some("2024-02-01"))
    assert(!FileStats.mayMatch(DateType,
      dstat, "=", GraftSqlGlueBridge.dateDays("2024-03-01")))
    assert(FileStats.mayMatch(DateType,
      dstat, "=", GraftSqlGlueBridge.dateDays("2024-01-10")))
  }

  test("bloom stats prune point lookups where min/max ranges fully overlap") {
    val dir = tmpDir("fs-bloom") + "/t"
    val t = GraftTable(spark, dir)
    t.create(Seq((0L, "")).toDF("id", "v").schema,
      properties = Map("graft.bloom.columns" -> "id,v"))
    // UNCLUSTERED: evens and odds interleave, so both files span the full
    // id range and min/max alone cannot prune either one
    t.append((0L to 998L by 2).map(i => (i, s"even-$i")).toDF("id", "v")
      .coalesce(1))
    t.append((1L to 999L by 2).map(i => (i, s"odd-$i")).toDF("id", "v")
      .coalesce(1))
    val all = spark.read.format("graft").load(dir)
    assert(all.inputFiles.length === 2)
    // id=500 lives only in the even file; bloom rejects the odd file
    assert(scannedFiles(all.filter($"id" === 500L)) === 1)
    assert(all.filter($"id" === 500L).count() === 1)
    // string column membership prunes too
    assert(scannedFiles(all.filter($"v" === "odd-501")) === 1)
    // a value in NEITHER file may scan 0 files (both blooms reject)
    assert(all.filter($"id" === 1000000L).count() === 0)
  }

  test("sort-on-write clustering makes stats selective: one append, pruned scans") {
    val dir = tmpDir("fs-cluster") + "/t"
    val t = GraftTable(spark, dir)
    // ONE unsorted shuffled batch; clustering must come from sortBy, not
    // from the caller pre-splitting ranges
    val shuffled = (1L to 4000L).map(i => ((i * 2654435761L) % 4000L, s"v$i"))
      .toDF("id", "v")
    t.append(shuffled, sortBy = Seq("id"), sortFiles = Some(4))
    val live = t.liveFiles()
    assert(live.size > 1, "range repartition should produce multiple files")
    // files carry disjoint id ranges
    val stats = t.statsFor(live)
    val ranges = live.map(f => (stats(f)("id").min.get.toLong,
      stats(f)("id").max.get.toLong)).sortBy(_._1)
    ranges.sliding(2).foreach {
      case Seq((_, hi), (lo2, _)) => assert(hi < lo2,
        s"file ranges overlap: $ranges")
      case _ =>
    }
    // a point filter scans exactly one file
    val all = spark.read.format("graft").load(dir)
    assert(scannedFiles(all.filter($"id" === 1234L)) === 1)
    assert(all.filter($"id" === 1234L).count() === 1)
  }

  test("readForKeys skips files whose stats exclude the probe's keys " +
      "(file-level, not row-level, pruning)") {
    val t = freshTable("fs-readforkeys")
    val data = (1L to 4000L).map(i => ((i * 2654435761L) % 4000L, s"v$i"))
      .toDF("id", "v")
    t.append(data, sortBy = Seq("id"), sortFiles = Some(4))
    assert(t.liveFiles().size === 4)
    val probe = Seq(7L, 9L).toDF("id") // both land in the lowest range
    val pruned = t.readForKeys(probe, Seq("id"))
    // the pruned scan READS one file — proven by its own scan metric,
    // and by returning only that file's rows (≈1000, not 4000)
    assert(scannedFiles(pruned) === 1)
    assert(pruned.count() < 2000)
    // correctness: semi-join over the pruned read equals the full filter
    assert(pruned.join(probe, Seq("id"), "left_semi").count() ===
      t.read().filter($"id".isin(7L, 9L)).count())
    // a sparse probe spanning the full range still point-probes: only
    // the two files that may CONTAIN the values are read, not every
    // range-overlapping file — and the exact rows all survive
    val wide = Seq(1L, 3999L).toDF("id")
    val wideRead = t.readForKeys(wide, Seq("id"))
    assert(scannedFiles(wideRead) === 2)
    assert(wideRead.join(wide, Seq("id"), "left_semi").count() ===
      t.read().filter($"id".isin(1L, 3999L)).count())
  }

  test("stats survive expire (baseline absorbs them) and compact recomputes") {
    val t = freshTable("fs-expire")
    t.append((1L to 10L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(1))
    t.append((100L to 110L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
    t.append((200L to 210L).map(i => (i, s"c$i")).toDF("id", "v").coalesce(1))
    t.expireSnapshots(keepLast = 2)
    val t2 = GraftTable(spark, t.location)
    val live = t2.liveFiles()
    val stats = t2.statsFor(live)
    assert(stats.size === live.size, s"stats lost on expire: ${stats.keys}")
    t2.compact(filesPerPartition = 1)
    val live2 = t2.liveFiles()
    assert(live2.size === 1)
    val idStat = t2.statsFor(live2)(live2.head)("id")
    assert((idStat.min, idStat.max) === (Some("1"), Some("210")))
  }
  test("merge under a non-UTC session does not mis-prune timestamp-keyed files") {
    // File stats are recorded under UTC; the merge batch's key bounds must
    // render under UTC too — a session-zone rendering would shift them by
    // the zone offset, wrongly prune the files that hold matched rows, and
    // silently duplicate keys.
    val t = freshTable("fs-tz-merge")
    import java.sql.Timestamp
    val rows = (0 until 48).map { h =>
      (new Timestamp(1704067200000L + h * 1800_000L), h.toLong) // 2024-01-01
    }
    t.append(rows.toDF("ts", "n"), sortBy = Seq("ts"), sortFiles = Some(4))
    val before = spark.conf.get("spark.sql.session.timeZone")
    try {
      spark.conf.set("spark.sql.session.timeZone", "America/New_York")
      t.merge(Seq((rows(5)._1, 999L)).toDF("ts", "n"),
        keys = Seq("ts"), dedupKey = Seq("ts"), orderCol = "n")
    } finally spark.conf.set("spark.sql.session.timeZone", before)
    val out = t.read()
    assert(out.count() === 48) // no key duplicated by a mis-pruned rewrite
    assert(out.groupBy("ts").count()
      .filter(org.apache.spark.sql.functions.col("count") > 1).count() === 0)
    assert(out.filter($"n" === 999L).count() === 1) // the update landed
  }
}

/** Test-side helper for building internal date values. */
object GraftSqlGlueBridge {
  def dateDays(s: String): Int =
    java.time.LocalDate.parse(s).toEpochDay.toInt
}
