package graft.table

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** MOR-lite merge: equality-delete tombstone files instead of COW
  * rewrites (the reference's silver table is merge-on-read,
  * /root/reference/bronze-silver.py:184-194). Pins the scale property
  * (O(batch) write regardless of table size), the sequence semantics
  * (tombstones never hit the merge's own inserts), read-path equivalence
  * with COW, and survival through compact / rollback / expire.
  */
class MergeOnReadSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String) = GraftTable(spark, tmpDir(name) + "/t")

  private def mkTable(name: String, n: Long = 1000L) = {
    val t = freshTable(name)
    t.append((1L to n).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ts")
      .coalesce(1))
    t
  }

  test("MOR merge writes O(batch) data: no rewrite, one tombstone file") {
    val t = mkTable("mor-o1")
    val dataBytesBefore = t.liveFiles().toSet
    t.merge(Seq((5L, "updated", 2L), (2000L, "inserted", 2L))
      .toDF("id", "v", "ts"), keys = Seq("id"), dedupKey = Seq("id"),
      orderCol = "ts", mode = "mor")
    val snap = t.snapshots.last
    assert(snap.operation === "merge")
    assert(t.removedFilesOf(snap).isEmpty) // NOTHING rewritten
    assert(dataBytesBefore.subsetOf(t.liveFiles().toSet))
    assert(snap.addedDeleteFiles.get.size === 1)
    assert(snap.addedDeleteFiles.get.head.seq === snap.snapshotId)
    // read merges tombstones: update applied, insert present, count right
    assert(t.read().count() === 1001)
    assert(t.read().filter($"id" === 5L).select("v").as[String].collect() ===
      Array("updated"))
    assert(t.read().filter($"id" === 2000L).count() === 1)
  }

  test("MOR result is row-identical to the same merge in COW mode") {
    val batch = Seq((3L, "u3", 2L), (7L, "u7", 2L), (999L, "new", 2L))
      .toDF("id", "v", "ts")
    val cow = mkTable("mor-eq-cow", 50L)
    val mor = mkTable("mor-eq-mor", 50L)
    cow.merge(batch, Seq("id"), Seq("id"), "ts", mode = "cow")
    mor.merge(batch, Seq("id"), Seq("id"), "ts", mode = "mor")
    assert(mor.read().orderBy("id").collect() ===
      cow.read().orderBy("id").collect())
  }

  test("chained MOR merges: later batch wins; earlier MOR inserts can be updated") {
    val t = mkTable("mor-chain", 10L)
    t.merge(Seq((5L, "first", 2L), (100L, "ins", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    // second MOR merge updates both a base row and the first merge's insert
    t.merge(Seq((5L, "second", 3L), (100L, "ins2", 3L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    val out = t.read().filter($"id".isin(5L, 100L)).orderBy("id")
      .select("v").as[String].collect()
    assert(out === Array("second", "ins2"))
    assert(t.read().count() === 11)
  }

  test("MOR merge with CDC delete ops removes keys without rewriting") {
    val t = mkTable("mor-del", 20L)
    val batch = Seq((1L, "gone", 2L, "D"), (2L, "upd", 2L, "U"))
      .toDF("id", "v", "ts", "op")
    t.merge(batch, Seq("id"), Seq("id"), "ts", opCol = Some("op"),
      mode = "mor")
    assert(t.removedFilesOf(t.snapshots.last).isEmpty)
    assert(t.read().count() === 19) // one deleted
    assert(t.read().filter($"id" === 1L).count() === 0)
    assert(t.read().filter($"id" === 2L).select("v").as[String].collect() ===
      Array("upd"))
  }

  test("compact folds tombstones into data files and re-enables the SQL scan") {
    val t = mkTable("mor-compact", 30L)
    t.merge(Seq((5L, "updated", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    assert(t.liveDeletes().nonEmpty)
    // bare file scan must refuse while tombstones apply
    val e = intercept[IllegalArgumentException] {
      spark.read.format("graft").load(t.location).count()
    }
    assert(e.getMessage.contains("merge-on-read"))
    val expected = t.read().orderBy("id").collect()
    t.compact()
    assert(t.liveDeletes().isEmpty)
    assert(t.read().orderBy("id").collect() === expected)
    // format("graft") works again and agrees
    assert(spark.read.format("graft").load(t.location)
      .orderBy("id").collect() === expected)
  }

  test("time travel around a MOR merge; tombstone files survive compact for it") {
    val t = mkTable("mor-tt", 10L)
    val s0 = t.latestSnapshotId.get
    t.merge(Seq((3L, "upd", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    val s1 = t.latestSnapshotId.get
    t.compact()
    // pre-merge state: original value
    assert(t.readAsOf(s0).filter($"id" === 3L).select("v").as[String]
      .collect() === Array("v3"))
    // at the MOR snapshot: tombstone applied (file still on disk)
    assert(t.readAsOf(s1).filter($"id" === 3L).select("v").as[String]
      .collect() === Array("upd"))
    assert(t.readAsOf(s1).count() === 10)
  }

  test("rollback across MOR states restores tombstones with original sequences") {
    val t = mkTable("mor-rb", 10L)
    t.merge(Seq((3L, "upd", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    val sMor = t.latestSnapshotId.get
    val atMor = t.read().orderBy("id").collect()
    t.compact() // clears tombstones
    t.rollback(sMor) // must re-apply them, at their ORIGINAL sequence
    assert(t.liveDeletes().nonEmpty)
    assert(t.liveDeletes().head.seq === sMor)
    assert(t.read().orderBy("id").collect() === atMor)
    // and rollback to the pre-merge state drops them again
    t.rollback(sMor - 1)
    assert(t.liveDeletes().isEmpty)
    assert(t.read().filter($"id" === 3L).select("v").as[String].collect() ===
      Array("v3"))
  }

  test("expire keeps tombstones applicable to baseline-carried files") {
    val t = mkTable("mor-expire", 10L)
    t.merge(Seq((3L, "upd", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    t.append(Seq((500L, "late", 3L)).toDF("id", "v", "ts"))
    t.append(Seq((501L, "later", 3L)).toDF("id", "v", "ts"))
    val expected = t.read().orderBy("id").collect()
    // expire everything below the last two appends: the baseline re-adds
    // the original data file AND the tombstone; without explicit
    // sequences the carried file would look newer than the tombstone and
    // id=3 would resurrect as a duplicate
    t.expireSnapshots(keepLast = 2)
    val t2 = GraftTable(spark, t.location)
    assert(t2.liveDeletes().nonEmpty)
    assert(t2.read().orderBy("id").collect() === expected)
    assert(t2.read().filter($"id" === 3L).count() === 1)
    assert(t2.read().filter($"id" === 3L).select("v").as[String].collect() ===
      Array("upd"))
  }

  test("auto mode picks COW for small rewrites") {
    val t = mkTable("mor-auto-small", 100L)
    t.merge(Seq((5L, "upd", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "auto")
    // tiny table: rewrite is cheaper than carrying tombstones
    assert(t.liveDeletes().isEmpty)
    assert(t.removedFilesOf(t.snapshots.last).nonEmpty)
    assert(t.read().filter($"id" === 5L).select("v").as[String].collect() ===
      Array("upd"))
  }

  test("MOR on a partitioned table: global tombstones, no partition probe") {
    val t = freshTable("mor-part")
    t.append(Seq((1L, "a", 1L, "p1"), (2L, "b", 1L, "p2"), (3L, "c", 1L, "p3"))
      .toDF("id", "v", "ts", "part"), parts = Seq("part"))
    t.merge(Seq((2L, "b2", 2L, "p2"), (9L, "new", 2L, "p9"))
      .toDF("id", "v", "ts", "part"), Seq("id"), Seq("id"), "ts",
      mode = "mor")
    assert(t.removedFilesOf(t.snapshots.last).isEmpty)
    val out = t.read().orderBy("id").select("id", "v", "part")
      .as[(Long, String, String)].collect()
    assert(out === Array((1L, "a", "p1"), (2L, "b2", "p2"), (3L, "c", "p3"),
      (9L, "new", "p9")))
  }

  /** A table whose scan URIs are percent-encoded: a space in the
    * location and ':' / ' ' in partition values, so the scan renders
    * each file's `_metadata.file_path` percent-encoded. One MOR merge
    * leaves a tombstone on keys 2 and 9. */
  private def encodedTable(name: String) = {
    val t = GraftTable(spark, tmpDir(name) + "/t dir")
    t.append(Seq((1L, "a", 1L, "x:1"), (2L, "b", 1L, "y 2"), (3L, "c", 1L, "z"))
      .toDF("id", "v", "ts", "part"), parts = Seq("part"))
    t.merge(Seq((2L, "b2", 2L, "y 2"), (9L, "new", 2L, "x:1"))
      .toDF("id", "v", "ts", "part"), Seq("id"), Seq("id"), "ts",
      mode = "mor")
    t
  }

  private def idVPart(t: GraftTable) = t.read().orderBy("id")
    .select("id", "v", "part").as[(Long, String, String)].collect()

  test("MOR read of files whose scan URI is percent-encoded keeps their rows") {
    val t = encodedTable("mor-uri")
    def rows = idVPart(t)
    assert(rows === Array((1L, "a", "x:1"), (2L, "b2", "y 2"),
      (3L, "c", "z"), (9L, "new", "x:1")))
    t.deletePositions($"id" === 1L)
    assert(rows === Array((2L, "b2", "y 2"), (3L, "c", "z"),
      (9L, "new", "x:1")))
    val changes = t.changes(t.snapshots.head.snapshotId,
        t.latestSnapshotId.get)
      .filter($"_change_type" === "delete").select("id").as[Long].collect()
    assert(changes.sorted === Array(1L, 2L))
  }

  test("tombstones at two sequences under percent-encoded scan URIs " +
      "each apply at their own sequence") {
    val t = encodedTable("mor-uri-seqs")
    // second tombstone (keys 1, 2) at a later sequence, read in ONE
    // tombstone scan with the first (keys 2, 9): were the first tagged
    // with the second's sequence it would delete the first merge's own
    // insert of 9; were the second tagged with the first's, the first
    // merge's (2, b2) would survive beside (2, b3)
    t.merge(Seq((1L, "a2", 3L, "x:1"), (2L, "b3", 3L, "y 2"))
      .toDF("id", "v", "ts", "part"), Seq("id"), Seq("id"), "ts",
      mode = "mor")
    assert(t.liveDeletes().map(_.seq).distinct.size === 2)
    assert(idVPart(t) === Array((1L, "a2", "x:1"), (2L, "b3", "y 2"),
      (3L, "c", "z"), (9L, "new", "x:1")))
  }

  test("tombstones on a key widened from int to long between them read " +
      "the right rows") {
    val t = freshTable("mor-widen")
    t.append((1 to 6).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ts")
      .coalesce(1))
    // first tombstone written under the int key
    t.merge(Seq((2, "u2", 2L), (3, "u3", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    t.widenColumn("id", org.apache.spark.sql.types.LongType)
    // second under the long one; it hits the first merge's insert of 3
    t.merge(Seq((3L, "w3", 3L), (5L, "w5", 3L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    assert(t.liveDeletes().size === 2)
    val rows = t.read().orderBy("id").select("id", "v")
      .as[(Long, String)].collect()
    assert(rows === Array((1L, "v1"), (2L, "u2"), (3L, "w3"), (4L, "v4"),
      (5L, "w5"), (6L, "v6")))
  }

  test("oversized explicit MOR demotes to COW (size guard)") {
    val t = freshTable("mor-demote")
    t.create(Seq((1L, "a", 1L)).toDF("id", "v", "ts").schema,
      properties = Map("graft.merge.mor.max-batch-rows" -> "5"))
    t.append((1L to 100L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ts")
      .coalesce(1))
    // 10-row batch > the 5-row cap: must COW (rewrite, NO tombstones)
    t.merge((1L to 10L).map(i => (i, "upd", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    assert(t.liveDeletes().isEmpty)
    assert(t.removedFilesOf(t.snapshots.last).nonEmpty)
    assert(t.read().filter($"v" === "upd").count() === 10)
    // under the cap stays genuine MOR
    t.merge(Seq((1L, "again", 3L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    assert(t.liveDeletes().size === 1)
  }

  test("large tombstone set reads via shuffle anti-join, not broadcast") {
    val t = mkTable("mor-bigdel", 500L)
    t.merge((1L to 250L).map(i => (i, "upd", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    assert(t.liveDeletes().head.bytes.exists(_ > 1))
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      // tombstone bytes exceed the (tiny) threshold → no broadcast hint
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
      val big = t.read()
      big.collect()
      assert(!big.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      // a comfortable threshold broadcasts again
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      val small = t.read()
      small.collect()
      assert(small.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("tombstone staging splits a huge batch across multiple files") {
    val t = mkTable("mor-multidel", 10L)
    val keys = (1L to 1000L).toDF("id")
    // approxRows over the per-file cap → parallel multi-file staging
    val staged = t.stageDeletes(keys, GraftTable.MorDeleteFileRows * 3)
    assert(staged.size === 3)
    assert(staged.forall(_._2 > 0))
    // under the cap → exactly one file (the common small-CDC-batch case)
    assert(t.stageDeletes(keys, 1000L).size === 1)
  }

  test("auto-fold bounds live tombstones and morRead plan size") {
    val t = freshTable("mor-fold")
    t.create(Seq((1L, "a", 1L)).toDF("id", "v", "ts").schema,
      properties = Map("graft.merge.mor.max-delete-files" -> "2"))
    t.append((1L to 100L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ts")
      .coalesce(1))
    val preFold = (1 to 2).map { i =>
      t.merge(Seq((i.toLong, s"m$i", i + 1L)).toDF("id", "v", "ts"),
        Seq("id"), Seq("id"), "ts", mode = "mor")
      t.latestSnapshotId.get
    }
    assert(t.liveDeletes().size === 2)
    // third merge crosses the threshold → fold commit retires tombstones
    t.merge(Seq((3L, "m3", 9L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    assert(t.snapshots.last.operation === "fold")
    assert(t.liveDeletes().isEmpty)
    // plan has no anti-joins left at all
    assert(!t.read().queryExecution.optimizedPlan.toString
      .contains("LeftAnti"))
    val out = t.read().filter($"id".isin(1L, 2L, 3L)).orderBy("id")
      .select("v").as[String].collect()
    assert(out === Array("m1", "m2", "m3"))
    assert(t.read().count() === 100)
    // time travel to a pre-fold MOR state still applies its tombstones
    assert(t.readAsOf(preFold.head).filter($"id" === 1L)
      .select("v").as[String].collect() === Array("m1"))
    // and ≥4 same-key merges keep the live set bounded by the threshold
    (4 to 7).foreach { i =>
      t.merge(Seq((i.toLong, s"m$i", i + 10L)).toDF("id", "v", "ts"),
        Seq("id"), Seq("id"), "ts", mode = "mor")
      assert(t.liveDeletes().size <= 2)
    }
  }

  test("chained same-key tombstones: one anti-join over one data scan") {
    val t = mkTable("mor-onejoin", 50L)
    (1 to 3).foreach { i =>
      t.merge(Seq((i.toLong, s"u$i", i + 1L)).toDF("id", "v", "ts"),
        Seq("id"), Seq("id"), "ts", mode = "mor")
    }
    // 3 tombstone files on the SAME key columns at 3 sequences, applying
    // to 3 different subsets of the 4 data files — still ONE data-file
    // scan, ONE tombstone scan and ONE anti-join: the sequence gate is a
    // join condition, not a plan split
    val df = t.read()
    val plan = df.queryExecution.optimizedPlan.toString
    assert("LeftAnti".r.findAllIn(plan).size === 1)
    // scans told apart by their files: tombstones live under _deletes/
    val (tombScans, dataScans) = df.queryExecution.sparkPlan.collect {
      case s: org.apache.spark.sql.execution.FileSourceScanExec =>
        s.relation.location.inputFiles.toSeq
    }.partition(_.forall(_.contains("/_deletes/")))
    assert(dataScans.size === 1)
    assert(dataScans.head.size === 4)
    assert(dataScans.head.forall(!_.contains("/_deletes/")))
    assert(tombScans.size === 1)
    assert(tombScans.head.size === 3)
    assert(t.read().count() === 50)
    assert(t.read().filter($"id" === 1L).select("v").as[String].collect()
      === Array("u1"))
  }

  test("a live tombstone lacking a recorded field is refused by name") {
    Seq("bytes", "cols").foreach { field =>
      val t = mkTable(s"mor-legacy-$field", 10L)
      val d = LegacyTombstone(t, field)
      val e = intercept[IllegalStateException](
        GraftTable(spark, t.location).read())
      assert(e.getMessage.contains(d.path) &&
        e.getMessage.contains(s"`$field`"))
    }
  }

  test("native position tombstones only name files older than themselves") {
    // the applicator gates position deletes at deleteSeq >= dataSeq (the
    // v2 rule); a native tombstone only names files live at its parent,
    // so every file it names is strictly older and the gate never sees
    // the equal case — pinned through the lifecycle operations
    val t = mkTable("pos-seqs", 100L)
    def check(): Unit = {
      val seqs = t.fileAddSeqs(None)
      t.liveDeletes().filter(_.isPosition).foreach { d =>
        spark.read.parquet(s"${t.location}/${d.path}").select("file_path")
          .as[String].collect().flatMap(seqs.get).foreach(s =>
            assert(s < d.seq, s"${d.path} at ${d.seq} names a seq-$s file"))
      }
    }
    t.deletePositions($"id" === 1L)
    check()
    t.append(Seq((101L, "late", 2L)).toDF("id", "v", "ts"))
    t.updatePositions(Map("v" -> lit("x")), Some($"id".isin(2L, 101L)))
    check()
    t.deletePositions($"id".isin(3L, 101L))
    check()
    val rb = t.latestSnapshotId.get
    t.compact()
    t.rollback(rb)
    check()
    t.expireSnapshots(keepLast = 1)
    check()
    assert(t.liveDeletes().exists(_.isPosition))
    assert(t.read().count() === 98)
    assert(t.read().filter($"v" === "x").select("id").as[Long].collect()
      === Array(2L))
  }

  test("snapshot JSON round-trips delete files and sequence overrides") {
    val s = Snapshot(7L, Some(6L), 123L, "merge", "{}", Seq("p"),
      addedDeleteFiles = Some(Seq(DeleteFile("_deletes/d1.parquet", 7L),
        DeleteFile("_deletes/d2.parquet", 7L, content = Some("position")))),
      removedDeleteFiles = Some(Seq("_deletes/d0.parquet")),
      manifest = Some(ManifestRef("_graft/manifest-m.json", 1, 0)))
    assert(Snapshot.fromJson(Snapshot.toJson(s), "t", "snap-7") === s)
    val m = Manifest(Seq(ManifestEntry("f1", "add", seq = Some(3L))))
    assert(Manifest.fromJson(Manifest.toJson(m)) === m)
  }

  // ---- position deletes (the v2 second delete encoding) ----

  test("deletePositions: point delete writes a tombstone, rewrites nothing") {
    val t = mkTable("pos-basic", 1000L)
    val filesBefore = t.liveFiles().toSet
    t.deletePositions($"id" === 5L || $"id" === 700L)
    val snap = t.snapshots.last
    assert(snap.operation === "delete")
    assert(t.removedFilesOf(snap).isEmpty) // nothing rewritten
    assert(t.liveFiles().toSet === filesBefore)
    val d = snap.addedDeleteFiles.get
    assert(d.size === 1 && d.head.isPosition)
    assert(t.read().count() === 998)
    assert(t.read().filter($"id" === 5L || $"id" === 700L).count() === 0)
    // the other rows are intact
    assert(t.read().filter($"id" === 6L).select("v").as[String].collect()
      === Array("v6"))
  }

  test("position deletes are row-identical to the same COW delete") {
    val cond = col("id") % 7 === 0
    val cow = mkTable("pos-eq-cow", 200L)
    val pos = mkTable("pos-eq-pos", 200L)
    cow.delete(cond)
    pos.deletePositions(cond)
    assert(cow.read().orderBy("id").collect()
      === pos.read().orderBy("id").collect())
  }

  test("graft.delete.mode=mor routes SQL-style delete() to positions") {
    val t = mkTable("pos-mode", 100L)
    t.setProperties(Map("graft.delete.mode" -> "mor"))
    t.delete($"id" <= 10L)
    assert(t.snapshots.last.addedDeleteFiles.get.head.isPosition)
    assert(t.read().count() === 90)
  }

  test("position tombstones never hit files added at or after their seq") {
    val t = mkTable("pos-seq", 100L)
    t.deletePositions($"id" === 1L)
    // rows re-inserted AFTER the position delete live in new files at a
    // later sequence — a stale (file,pos) can never resurrect-delete them
    t.append(Seq((1L, "reborn", 9L)).toDF("id", "v", "ts"))
    assert(t.read().filter($"id" === 1L).select("v").as[String].collect()
      === Array("reborn"))
    assert(t.read().count() === 100)
  }

  test("position + equality tombstones compose on the same files") {
    val t = mkTable("pos-mixed", 100L)
    t.merge(Seq((7L, "u7", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor") // equality tombstone
    t.deletePositions($"id" === 9L) // position tombstone
    assert(t.read().count() === 99)
    assert(t.read().filter($"id" === 7L).select("v").as[String].collect()
      === Array("u7"))
    assert(t.read().filter($"id" === 9L).count() === 0)
    // fold clears both kinds; the folded table scans bare again
    t.foldDeletes()
    assert(t.liveDeletes().isEmpty)
    assert(t.read().count() === 99)
    assert(t.read().filter($"id" === 9L).count() === 0)
  }

  test("time travel and changelog across a position delete") {
    val t = mkTable("pos-cdc", 50L)
    val before = t.latestSnapshotId.get
    t.deletePositions($"id" === 3L || $"id" === 4L)
    val after = t.latestSnapshotId.get
    assert(t.readAsOf(before).count() === 50)
    assert(t.readAsOf(after).count() === 48)
    val ch = t.changes(before, after)
    val deleted = ch.filter(col("_change_type") === "delete")
      .select("id").as[Long].collect().sorted
    assert(deleted === Array(3L, 4L))
    assert(ch.filter(col("_change_type") === "insert").count() === 0)
  }

  test("deletePositions with no matching rows is a no-op commit-wise") {
    val t = mkTable("pos-nomatch", 20L)
    val tip = t.latestSnapshotId.get
    assert(t.deletePositions($"id" === 9999L) === tip)
    assert(t.snapshots.size === 2) // create + append only
  }

  test("position-delete commit conflicts when a concurrent rewrite " +
      "retired a named file (validateDataFilesExist)") {
    val t = mkTable("pos-race", 100L)
    // the file a racing deletePositions would have scanned and named
    val victim = t.liveFiles().head
    t.compact() // the "concurrent" rewrite retires it before the publish
    intercept[java.util.ConcurrentModificationException](
      t.commit("delete", Seq.empty, Seq.empty, _ => t.schema.json,
        Seq.empty, addDeletePaths = Seq(("_deletes/never-lands.parquet", 1L)),
        addDeleteContent = Some("position"),
        requireLiveFiles = Seq(victim)))
    // nothing published: the table still reads clean post-compact
    assert(t.liveDeletes().isEmpty)
    assert(t.read().count() === 100)
    // equality tombstones stay append-shaped across the same rewrite:
    // keys re-apply to the rewritten files through their newer sequence
    t.merge(Seq((5L, "u5", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    assert(t.read().filter($"id" === 5L).select("v").as[String].collect()
      === Array("u5"))
  }

  // ---- position-delete UPDATE (write.update.mode=merge-on-read) ----

  test("updatePositions: one commit tombstones old rows + appends new, " +
      "rewrites nothing") {
    val t = mkTable("posupd-basic", 1000L)
    val filesBefore = t.liveFiles().toSet
    t.updatePositions(Map("v" -> lit("touched")),
      Some($"id" === 5L || $"id" === 700L))
    val snap = t.snapshots.last
    assert(snap.operation === "update")
    assert(t.removedFilesOf(snap).isEmpty) // nothing rewritten
    assert(filesBefore.subsetOf(t.liveFiles().toSet))
    val d = snap.addedDeleteFiles.get
    assert(d.size === 1 && d.head.isPosition)
    assert(t.read().count() === 1000) // row count unchanged
    assert(t.read().filter($"v" === "touched")
      .select("id").as[Long].collect().sorted === Array(5L, 700L))
    assert(t.read().filter($"id" === 6L).select("v").as[String].collect()
      === Array("v6"))
  }

  test("updatePositions is row-identical to the same COW update") {
    val set = Map("v" -> concat(lit("u-"), col("v")))
    val cond = Some(col("id") % 7 === 0)
    val cow = mkTable("posupd-cow", 200L)
    val pos = mkTable("posupd-pos", 200L)
    cow.update(set, cond)
    pos.updatePositions(set, cond)
    assert(cow.read().orderBy("id").collect()
      === pos.read().orderBy("id").collect())
  }

  test("graft.update.mode=mor routes update() to positions") {
    val t = mkTable("posupd-mode", 100L)
    t.setProperties(Map("graft.update.mode" -> "mor"))
    t.update(Map("ts" -> lit(9L)), Some($"id" <= 10L))
    assert(t.snapshots.last.addedDeleteFiles.get.head.isPosition)
    assert(t.read().filter($"ts" === 9L).count() === 10)
    assert(t.read().count() === 100)
  }

  test("updatePositions cannot resurrect rows dead under live tombstones") {
    val t = mkTable("posupd-dead", 100L)
    t.merge(Seq((7L, "gone", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", opCol = Some("v"),
      deleteOps = Seq("gone"), mode = "mor") // equality-tombstones id=7
    assert(t.read().filter($"id" === 7L).count() === 0)
    // a broad update whose predicate would match the dead row's bytes
    t.updatePositions(Map("v" -> lit("upd")), Some($"id" <= 10L))
    assert(t.read().filter($"id" === 7L).count() === 0) // still dead
    assert(t.read().filter($"v" === "upd").count() === 9) // 1..10 minus 7
    assert(t.read().count() === 99)
  }

  test("updatePositions chains: second update sees the first's result") {
    val t = mkTable("posupd-chain", 50L)
    t.updatePositions(Map("ts" -> lit(2L)), Some($"id" === 10L))
    t.updatePositions(Map("ts" -> (col("ts") + 5L)),
      Some($"id" === 10L))
    assert(t.read().filter($"id" === 10L).select("ts").as[Long].collect()
      === Array(7L)) // 2 + 5, not 1 + 5 and no duplicate row
    assert(t.read().count() === 50)
    t.foldDeletes()
    assert(t.read().filter($"id" === 10L).select("ts").as[Long].collect()
      === Array(7L))
  }

  test("updatePositions with no matching rows is a no-op commit-wise") {
    val t = mkTable("posupd-nomatch", 20L)
    val tip = t.latestSnapshotId.get
    assert(t.updatePositions(Map("v" -> lit("x")),
      Some($"id" === 9999L)) === tip)
    assert(t.snapshots.size === 2)
  }
}
