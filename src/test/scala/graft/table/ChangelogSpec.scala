package graft.table

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** CDC changelog reads ([[GraftTable.changes]]): net-change semantics per
  * commit kind, data-equivalent commits contributing nothing, schema
  * evolution conformance, and the empty range. The full pipeline against
  * an independent SQL reconstruction is pinned by the q_table_changes
  * oracle; this spec pins the engine-only corners. */
class ChangelogSpec extends SparkSpec {
  import spark.implicits._

  private def mk(name: String) = {
    val t = GraftTable(spark, tmpDir(name) + "/t")
    t.append((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t
  }

  private def collectChanges(t: GraftTable, from: Long, to: Long) =
    t.changes(from, to)
      .select("id", "v", "_change_type", "_commit_snapshot_id")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))

  test("append emits pure inserts; compact emits nothing") {
    val t = mk("chg-append")
    val s1 = t.latestSnapshotId.get
    t.append(Seq((101L, "x")).toDF("id", "v"))
    val s2 = t.latestSnapshotId.get
    t.compact()
    val s3 = t.latestSnapshotId.get
    assert(collectChanges(t, s1, s2).toSet ===
      Set((101L, "x", "insert", s2)))
    assert(collectChanges(t, s2, s3).isEmpty) // compact is data-equivalent
    // the range crossing the compact still reports only the append
    assert(collectChanges(t, s1, s3).toSet ===
      Set((101L, "x", "insert", s2)))
  }

  test("COW rewrite nets out copied rows: delete emits only removed rows") {
    val t = mk("chg-del")
    val s1 = t.latestSnapshotId.get
    // SQL-DELETE path: rewrites the whole file minus 2 rows
    t.delete(col("id") <= 2L)
    val s2 = t.latestSnapshotId.get
    val chg = collectChanges(t, s1, s2)
    assert(chg.toSet === Set(
      (1L, "v1", "delete", s2), (2L, "v2", "delete", s2)))
  }

  test("MOR merge emits batch inserts plus parent-state key deletes") {
    val t = mk("chg-mor")
    val s1 = t.latestSnapshotId.get
    t.merge(Seq((5L, "u5"), (200L, "new")).toDF("id", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id", mode = "mor")
    val s2 = t.latestSnapshotId.get
    val chg = collectChanges(t, s1, s2)
    // key 200 is tombstoned too but existed nowhere -> no delete for it
    assert(chg.toSet === Set(
      (5L, "v5", "delete", s2), (5L, "u5", "insert", s2),
      (200L, "new", "insert", s2)))
  }

  test("changelog spans schema evolution, null-filling the new column") {
    val t = mk("chg-evolve")
    val s1 = t.latestSnapshotId.get
    t.append(Seq((101L, "pre")).toDF("id", "v"))
    t.addColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.StringType))))
    t.append(Seq((102L, "post", "w102")).toDF("id", "v", "w"))
    val end = t.latestSnapshotId.get
    val rows = t.changes(s1, end)
      .select("id", "v", "w", "_change_type").collect()
      .map(r => (r.getLong(0), r.getString(1),
        Option(r.getString(2)), r.getString(3))).toSet
    assert(rows === Set(
      (101L, "pre", None, "insert"),        // pre-evolve commit, w nulled
      (102L, "post", Some("w102"), "insert")))
  }

  test("expire baseline reads as initial-snapshot inserts, tombstones safe") {
    val t = mk("chg-expire")
    t.merge(Seq((7L, "u7"), (300L, "n300")).toDF("id", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id", mode = "mor")
    t.append(Seq((400L, "x")).toDF("id", "v"))
    val lastId = t.latestSnapshotId.get
    // expire everything below the MOR merge: the baseline absorbs the
    // append + merge history AND carries the live tombstone file
    t.expireSnapshots(keepLast = 2)
    val baseId = t.snapshots.head.snapshotId
    assert(t.snapshots.head.base.contains(true))
    val chg = collectChanges(t, baseId - 1, lastId)
    // baseline: NET absorbed state as inserts (101 rows: 100 originals
    // with id 7 updated, plus the merge's insert) — carried tombstones
    // must not surface as deletes and must not throw on the missing parent
    val baseRows = chg.filter(_._4 == baseId)
    assert(baseRows.forall(_._3 == "insert"))
    assert(baseRows.length === 101)
    assert(baseRows.count(r => r._1 == 7L && r._2 == "u7") === 1)
    assert(!baseRows.exists(r => r._1 == 7L && r._2 == "v7"))
    // the retained append after the baseline stays a normal change set
    assert(chg.filter(_._4 == lastId).toSet ===
      Set((400L, "x", "insert", lastId)))
  }

  test("MOR-then-COW on the same file emits the tombstoned key's delete " +
      "exactly once") {
    val t = mk("chg-mor-cow")
    val s1 = t.latestSnapshotId.get
    // MOR merge tombstones key 5 inside the original file
    t.merge(Seq((5L, "u5")).toDF("id", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id", mode = "mor")
    val s2 = t.latestSnapshotId.get
    // COW delete rewrites that same file: its MOR-aware rewrite already
    // excludes (5,"v5"), so the raw pre-image would re-emit it as a
    // spurious second delete — the MOR-aware pre-image must not
    t.delete(col("id") <= 2L)
    val s3 = t.latestSnapshotId.get
    val chg = collectChanges(t, s1, s3)
    assert(chg.count(r => r._1 == 5L && r._2 == "v5" && r._3 == "delete")
      === 1)
    assert(chg.filter(_._4 == s3).toSet === Set(
      (1L, "v1", "delete", s3), (2L, "v2", "delete", s3)))
    assert(chg.filter(_._4 == s2).toSet === Set(
      (5L, "v5", "delete", s2), (5L, "u5", "insert", s2)))
  }

  test("MOR pre-image scan is pruned to stat-overlapping files") {
    val t = GraftTable(spark, tmpDir("chg-prune") + "/t")
    // 10 clustered appends -> 10 live files with disjoint id ranges
    for (b <- 0 until 10)
      t.append((b * 100L + 1 to b * 100L + 100)
        .map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    val s1 = t.latestSnapshotId.get
    // tombstone keys confined to the 3rd file's range
    t.merge(Seq((205L, "u205"), (210L, "u210")).toDF("id", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id", mode = "mor")
    val s2 = t.latestSnapshotId.get
    val keys = Seq(205L, 210L).toDF("id")
    val pre = t.morPreImageFiles(t.state(Some(s1)), Seq("id"), keys)
    val live = t.liveFiles(Some(s1))
    assert(live.length === 10)
    assert(pre.length === 1, s"pre-image should prune to 1 file, got $pre")
    // ...and the pruned changelog is still exactly right
    assert(collectChanges(t, s1, s2).toSet === Set(
      (205L, "v205", "delete", s2), (205L, "u205", "insert", s2),
      (210L, "v210", "delete", s2), (210L, "u210", "insert", s2)))
  }

  test("rollback over a MOR merge emits the exact two-state diff: " +
      "resurrections as inserts, no re-emitted tombstone deletes") {
    val t = mk("chg-rollback")
    val s1 = t.latestSnapshotId.get
    t.merge(Seq((5L, "u5"), (200L, "new")).toDF("id", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id", mode = "mor")
    val s2 = t.latestSnapshotId.get
    t.rollback(s1)
    val s3 = t.latestSnapshotId.get
    val chg = collectChanges(t, s2, s3)
    // rolling the merge back: its insert rows vanish, the tombstoned row
    // resurrects — and the re-added state must NOT re-emit s2's deletes
    assert(chg.toSet === Set(
      (5L, "u5", "delete", s3), (200L, "new", "delete", s3),
      (5L, "v5", "insert", s3)))
    // whole-range view: each change attributed to exactly one commit
    val all = collectChanges(t, s1, s3)
    assert(all.count(r => r._1 == 5L && r._2 == "v5" && r._3 == "delete")
      === 1)
  }

  test("materialized CDC matches reconstruction bit-for-bit and reads " +
      "without touching pre-image data files") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    def lifecycle(t: GraftTable): Unit = {
      t.append((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
      t.merge(Seq((5L, "u5"), (200L, "new")).toDF("id", "v"),
        keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id", mode = "mor")
      t.delete(col("id") <= 2L)
    }
    val matLoc = tmpDir("chg-mat") + "/t"
    val mat = GraftTable(spark, matLoc)
      .create(sch, properties = Map("graft.cdc.materialize" -> "true"))
    lifecycle(mat)
    val twinLoc = tmpDir("chg-mat-twin") + "/t"
    val twin = GraftTable(spark, twinLoc)
    lifecycle(twin)
    // every data commit produced a _changes file
    val dataSnaps = mat.snapshots.filterNot(_.operation == "create")
    assert(dataSnaps.nonEmpty)
    dataSnaps.foreach(s => assert(
      new java.io.File(s"$matLoc/_changes/${s.snapshotId}").isDirectory,
      s"commit ${s.snapshotId} (${s.operation}) not materialized"))
    def all(t: GraftTable) = collectChanges(t,
      t.snapshots.head.snapshotId - 1, t.latestSnapshotId.get)
      .map(r => (r._1, r._2, r._3)) // snapshot ids differ across tables
    assert(all(mat).sorted.toSeq === all(twin).sorted.toSeq)
    // no-reconstruction pin: physically delete the COW delete's pre-image
    // file — reconstruction NEEDS it (the twin now fails), the
    // materialized read never touches it
    def nukePreImage(t: GraftTable, loc: String): Unit =
      t.snapshots.filter(_.operation == "delete")
        .flatMap(t.removedFilesOf).foreach { rel =>
          assert(new java.io.File(s"$loc/$rel").delete(), s"missing $rel")
        }
    nukePreImage(mat, matLoc); nukePreImage(twin, twinLoc)
    assert(intercept[Exception] { all(twin) } != null)
    assert(all(mat).count(_._3 == "delete") === 3) // ids 1,2 + key 5
  }

  test("materialized dir without _SUCCESS is distrusted — reads fall " +
      "back to reconstruction, not a truncated change set") {
    import org.apache.spark.sql.types._
    val sch = StructType(Seq(
      StructField("id", LongType), StructField("v", StringType)))
    val loc = tmpDir("chg-succ") + "/t"
    val t = GraftTable(spark, loc)
      .create(sch, properties = Map("graft.cdc.materialize" -> "true"))
    t.append((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v").coalesce(1))
    t.delete(col("id") <= 3L)
    val dataSnaps = t.snapshots.filterNot(_.operation == "create")
    // every materialized dir carries the marker the reader keys on
    dataSnaps.foreach { s =>
      assert(new java.io.File(s"$loc/_changes/${s.snapshotId}/_SUCCESS")
        .isFile, s"commit ${s.snapshotId} missing _SUCCESS")
    }
    val lo = t.snapshots.head.snapshotId - 1
    val hi = t.latestSnapshotId.get
    val before = t.changes(lo, hi).collect().map(_.toString).sorted.toSeq
    // simulate a half-copied object-store rename: data present, marker not
    val del = dataSnaps.last.snapshotId
    assert(new java.io.File(s"$loc/_changes/$del/_SUCCESS").delete())
    val after = t.changes(lo, hi).collect().map(_.toString).sorted.toSeq
    assert(after === before) // reconstruction fallback, same answer
  }

  test("empty or change-free range returns an empty, well-typed frame") {
    val t = mk("chg-empty")
    val s1 = t.latestSnapshotId.get
    t.setProperties(Map("graft.test" -> "1")) // metadata-only commit
    val s2 = t.latestSnapshotId.get
    val df = t.changes(s1, s2)
    assert(df.columns.toSeq ===
      Seq("id", "v", "_change_type", "_commit_snapshot_id"))
    assert(df.count() === 0)
  }
}
