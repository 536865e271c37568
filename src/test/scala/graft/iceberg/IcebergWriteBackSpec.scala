package graft.iceberg

import scala.sys.process._

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.table.GraftTable

/** Iceberg WRITE-BACK — committing graft appends INTO a foreign v2 tree
  * ([[IcebergWriteBack.appendTo]]): the write direction of the
  * multi-engine loop. Evidence runs three independent readers over the
  * committed tree: graft's own importer, the incremental follow, and the
  * external DuckDB hand-walk reader (tools/read_iceberg_duckdb.py). */
class IcebergWriteBackSpec extends SparkSpec {
  import spark.implicits._

  test("unpartitioned round trip: append commits a new snapshot every " +
      "reader sees; chained appends version-chain; the follow is " +
      "metadata-only over the write-back") {
    val t = GraftTable(spark, tmpDir("wb-rt") + "/t")
    t.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)
    val tip = IcebergImport.currentSnapshotId(spark, t.location).get

    val s1 = IcebergWriteBack.appendTo(spark, t.location,
      (11L to 15L).map(i => (i, s"v$i")).toDF("id", "v"))
    // importer sees old ∪ new
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted === (1L to 15L).toArray)
    // the incremental follow delivers exactly the appended slice
    assert(IcebergImport.readChanges(spark, t.location, tip)
      .select("id").as[Long].collect().sorted === (11L to 15L).toArray)
    // snapshots view: new tip, append op, correct parent
    val snap = IcebergImport.snapshots(spark, t.location)
      .orderBy(col("sequence_number").desc).limit(1)
      .select("snapshot_id", "parent_id", "operation")
      .as[(Long, Option[Long], String)].collect()(0)
    assert(snap === ((s1, Some(tip), "append")))
    // the tree's resolution convention is preserved: graft tables stamp
    // parquet field ids, so the export tree is id-ful and the appended
    // files must be too (no mixed-mode flip)
    val newFiles = IcebergImport.plan(spark, t.location).files
      .filter(_.uri.contains("graft-append-"))
    assert(newFiles.nonEmpty &&
      newFiles.forall(f => IcebergImport.footerInfo(spark, f.uri).hasIds))
    // external engine: DuckDB hand-walks the committed tree
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t").!!
    assert(out.trim.split("\n").last === "15")
    // chained append: the next commit builds on the write-back's version
    IcebergWriteBack.appendTo(spark, t.location,
      (16L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    assert(IcebergImport.read(spark, t.location).count() === 20)
    val out2 = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t").!!
    assert(out2.trim.split("\n").last === "20")
  }

  test("a table under a path with a space round-trips: export, import " +
      "and write-back name every file by its literal path") {
    val t = GraftTable(spark, tmpDir("wb-space") + "/t dir")
    t.append(Seq((1L, "x:1"), (2L, "y 2"), (3L, "z")).toDF("id", "part"),
      parts = Seq("part"))
    t.deletePositions($"id" === 1L)
    IcebergExport.export(spark, t)
    def ids() = IcebergImport.read(spark, t.location).select("id")
      .as[Long].collect().sorted
    assert(ids() === Array(2L, 3L))
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((4L, "x:1"), (5L, "w")).toDF("id", "part"))
    assert(ids() === Array(2L, 3L, 4L, 5L))
    val files = IcebergImport.plan(spark, t.location).files.map(_.uri)
    assert(files.size === 5 && files.forall(_.contains("/t dir/")))
    // Spark's escaped partition-dir name is the literal name on disk
    assert(files.exists(_.contains("/part=x%3A1/")))
  }

  test("identity-partitioned tree: written files land under partition " +
      "dirs with manifest tuples, and partition pruning covers them") {
    val t = GraftTable(spark, tmpDir("wb-part") + "/t")
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("id", "cat", "x"),
      parts = Seq("cat"))
    IcebergExport.export(spark, t)
    // rows into an existing partition AND a brand-new one
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((3L, "a", 3.0), (4L, "c", 4.0)).toDF("id", "cat", "x"))
    val all = IcebergImport.read(spark, t.location)
    assert(all.orderBy("id").select("id", "cat").as[(Long, String)]
      .collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "a"), (4L, "c")))
    // manifest-level pruning selects the new partition's file only
    val pruned = IcebergImport.readPartition(spark, t.location,
      Map("cat" -> "c"))
    assert(pruned.select("id").as[Long].collect().toSeq === Seq(4L))
    assert(pruned.inputFiles.length === 1)
    // and the mixed old/new partition reads both commits' files
    assert(IcebergImport.readPartition(spark, t.location,
      Map("cat" -> "a")).select("id").as[Long].collect().sorted ===
      Array(1L, 3L))
  }

  test("hidden-transform appends into graft's own days(d) export work; " +
      "schema mismatches still refuse, committing nothing") {
    // a days(d) export used to refuse appends — the writer now
    // evaluates the spec's transform exactly, so it commits
    val t = GraftTable(spark, tmpDir("wb-days") + "/t")
    t.append(Seq((1L, java.sql.Date.valueOf("2024-01-02")))
      .toDF("id", "d"), parts = Seq("days(d)"))
    IcebergExport.export(spark, t)
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((2L, java.sql.Date.valueOf("2024-01-03"))).toDF("id", "d"))
    assert(IcebergImport.read(spark, t.location).orderBy("id")
      .select("id").as[Long].collect().toSeq === Seq(1L, 2L))

    val u = GraftTable(spark, tmpDir("wb-mismatch") + "/t")
    u.append(Seq((1L, "a")).toDF("id", "v"))
    IcebergExport.export(spark, u)
    val e2 = intercept[IllegalArgumentException](
      IcebergWriteBack.appendTo(spark, u.location,
        Seq((2L, "b", 9)).toDF("id", "v", "extra")))
    assert(e2.getMessage.contains("extra"))
    assert(IcebergImport.read(spark, u.location).count() === 1)
  }

  test("truncate[w]-on-STRING appends write exact manifest tuples for " +
      "hostile values ('+', space, %XX lookalikes, unicode, empty), " +
      "keep empty distinct from null, and read-side pruning covers " +
      "the written files") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val loc = tmpDir("wb-truncstr") + "/ft"
    new java.io.File(loc).mkdirs()
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      Seq((1L, "abc")).toDF("id", "v"))
    ForeignFixtures.writeTree(loc, Seq(ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "string")))), 0,
      Seq(ForeignFixtures.SpecField("v_trunc", "truncate[2]", 2,
        "string")),
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fA, 1, 1L,
        Map("v_trunc" -> "ab"))))), lastColumnId = 2)
    // every hive-dir hazard the old refusal cited: '+' and space (the
    // URL-decode folds), a literal %41 (decode corrupts), unicode,
    // the EMPTY string (collides with the null dir marker), and null
    val rows = Seq((2L, Some("a+b")), (3L, Some("a b")), (4L, Some("%41x")),
      (5L, Some("日本語")), (6L, Some("")), (7L, None: Option[String]),
      (8L, Some("xyz")))
    val sid = IcebergWriteBack.appendTo(spark, loc, rows.toDF("id", "v"))
    assert(IcebergImport.read(spark, loc).orderBy("id")
      .select("v").as[Option[String]].collect().toSeq ===
      Some("abc") +: rows.map(_._2))
    // tuple exactness: each appended file's tuple == truncate(v, 2)
    // of every row it holds (and the null row's tuple IS null, while
    // the empty string's tuple is "" — not conflated)
    val (fs, meta, _) = IcebergImport.parseMeta(spark, loc)
    val snapJ = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] == sid).get
    val entries = IcebergImport.readAvro(fs,
      (snapJ \ "manifest-list").extract[String])
      .filter(r => r.get("added_snapshot_id").asInstanceOf[Long] == sid)
      .flatMap(m => IcebergImport.readAvro(fs,
        m.get("manifest_path").toString))
    assert(entries.nonEmpty)
    var checked = 0L
    entries.foreach { e =>
      val df = e.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
      val tup = Option(df.get("partition")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("v_trunc")).map(_.toString)
      val fileRows = spark.read.parquet(df.get("file_path").toString)
        .select("id", "v").collect()
      fileRows.foreach { r =>
        val want = Option(r.getString(1)).map(_.take(2))
        assert(want === tup, s"tuple mismatch for id=${r.getLong(0)}")
      }
      checked += fileRows.length
    }
    assert(checked === rows.size)
    // manifest-level pruning by the truncate transform covers the
    // newly-written files (the read side's existing truncate pruning)
    val pruned = IcebergImport.readWhere(spark, loc, col("v") === "a+b")
    assert(pruned.select("id").as[Long].collect().toSeq === Seq(2L))
    // the external hand-walker agrees on the committed tree
    val path = new java.net.URI("file://" + loc).getPath
    val out = scala.sys.process.Process(Seq("python3",
      "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t")).!!
    assert(out.trim.split("\n").last === "8")
  }

  test("partitioned appends hash-distribute by the partition tuple " +
      "(write.distribution-mode=hash): a wide multi-task frame writes " +
      "O(partitions) files, not O(tasks x partitions)") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    import org.apache.spark.sql.types.LongType
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val loc = tmpDir("wb-distro") + "/ft"
    new java.io.File(loc).mkdirs()
    def day(d: String): java.sql.Date = java.sql.Date.valueOf(d)
    val fSeed = ForeignFixtures.writeParquet(spark, loc, "S",
      Seq((1000L, day("2024-03-01"))).toDF("id", "d"))
    ForeignFixtures.writeTree(loc, Seq(ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "d", "date")))), 0,
      Seq(ForeignFixtures.SpecField("id_bucket", "bucket[8]", 1, "int"),
        ForeignFixtures.SpecField("d_day", "day", 2, "int")),
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fSeed, 1, 1L,
        Map("id_bucket" -> graft.functions.IcebergBucketHash
          .bucketValue(1000L, LongType, 8),
          "d_day" -> day("2024-03-01").toLocalDate.toEpochDay.toInt))))),
      lastColumnId = 2)
    // 16 writer tasks x 400 rows over 2 days x 8 buckets = 16 tuples;
    // each input task sees (nearly) every tuple, so without hash
    // distribution the dynamic-partition writer would cut up to
    // tasks x tuples = 256 files — the small-files explosion
    val frame = (1L to 400L).map(i =>
      (i, day(if (i % 2 == 0) "2024-03-05" else "2024-03-06")))
      .toDF("id", "d").repartition(16)
    // force the size gate open: the production threshold (64 MB) is a
    // perf valve for small commits, not a correctness feature — this
    // spec pins the DISTRIBUTION plan shape itself
    spark.conf.set("graft.iceberg.write.rebalanceMinBytes", "0")
    val sid =
      try IcebergWriteBack.appendTo(spark, loc, frame)
      finally spark.conf.unset("graft.iceberg.write.rebalanceMinBytes")
    val (fs, meta, _) = IcebergImport.parseMeta(spark, loc)
    val snapJ = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] == sid).get
    val added = IcebergImport.readAvro(fs,
      (snapJ \ "manifest-list").extract[String])
      .filter(r => r.get("added_snapshot_id").asInstanceOf[Long] == sid)
      .flatMap(m => IcebergImport.readAvro(fs,
        m.get("manifest_path").toString))
    // one file per live partition tuple: the hash distribution routes
    // every tuple to exactly one task (AQE may split a genuinely
    // SKEWED tuple, impossible at this size)
    assert(added.size === 16,
      s"expected O(partitions)=16 files, got ${added.size}")
    // and the rows all arrived
    assert(IcebergImport.read(spark, loc).count() === 401)
  }

  test("deleteWhere: a position-delete commit every reader honors; " +
      "stacked deletes tombstone by ORIGINAL ordinal; no-match is a " +
      "no-commit; data files untouched") {
    val t = GraftTable(spark, tmpDir("wb-del") + "/t")
    t.append((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)
    val filesBefore = IcebergImport.plan(spark, t.location).files.map(_.uri)

    val s1 = IcebergWriteBack.deleteWhere(spark, t.location,
      col("id") % 3 === 0)
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted === (1L to 20L).filter(_ % 3 != 0).toArray)
    // snapshot stamped as a delete op; no data file rewritten or dropped
    val snap = IcebergImport.snapshots(spark, t.location)
      .orderBy(col("sequence_number").desc).limit(1)
      .select("snapshot_id", "operation").as[(Long, String)].collect()(0)
    assert(snap === ((s1, "delete")))
    assert(IcebergImport.plan(spark, t.location).files.map(_.uri) ===
      filesBefore)
    // the new delete file follows the tree's id-ful convention (reserved
    // spec ids 2147483546/2147483545)
    val delFiles = IcebergImport.plan(spark, t.location).deletes
    assert(delFiles.nonEmpty && delFiles.forall(_.equalityCols.isEmpty))
    assert(delFiles.forall(d =>
      IcebergImport.footerInfo(spark, d.uri).hasIds))
    // external engine agrees
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t").!!
    assert(out.trim.split("\n").last === "14")
    // a second delete stacks MOR-style: its positions are computed on
    // SURVIVORS but tombstone the original ordinals, so both apply
    IcebergWriteBack.deleteWhere(spark, t.location, col("id") <= 5)
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted ===
      (1L to 20L).filter(i => i % 3 != 0 && i > 5).toArray)
    val out2 = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t").!!
    assert(out2.trim.split("\n").last === "10")
    // nothing matches → current id returned, no snapshot published
    val tip = IcebergImport.currentSnapshotId(spark, t.location).get
    assert(IcebergWriteBack.deleteWhere(spark, t.location,
      col("id") > 999L) === tip)
    assert(IcebergImport.currentSnapshotId(spark, t.location).get === tip)
  }

  test("deleteWhere works under a hidden-transform spec (the case " +
      "appendTo must refuse): position deletes name exact files, no " +
      "foreign transform evaluated") {
    val t = GraftTable(spark, tmpDir("wb-del-days") + "/t")
    t.append(Seq(
      (1L, java.sql.Date.valueOf("2024-01-02")),
      (2L, java.sql.Date.valueOf("2024-01-02")),
      (3L, java.sql.Date.valueOf("2024-02-05"))).toDF("id", "d"),
      parts = Seq("days(d)"))
    IcebergExport.export(spark, t)
    IcebergWriteBack.deleteWhere(spark, t.location, col("id") === 2L)
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted === Array(1L, 3L))
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t").!!
    assert(out.trim.split("\n").last === "2")
  }

  test("deleteKeys: equality-delete commit with NO table scan — keys " +
      "tombstone strictly-older rows only; a later re-insert of the " +
      "same key survives; NULL keys refused") {
    val t = GraftTable(spark, tmpDir("wb-delk") + "/t")
    t.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)
    IcebergWriteBack.deleteKeys(spark, t.location,
      Seq(2L, 5L, 8L, 99L).toDF("id")) // 99 matches nothing — harmless
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted === Array(1L, 3L, 4L, 6L, 7L, 9L, 10L))
    // the delete file is equality-encoded and carries the key column
    val dels = IcebergImport.plan(spark, t.location).deletes
    assert(dels.nonEmpty &&
      dels.forall(_.equalityCols.contains(Seq("id"))))
    // external engine applies the same tombstones
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t").!!
    assert(out.trim.split("\n").last === "7")
    // v2 strict ordering: deleteSeq > dataSeq — re-inserting key 5
    // AFTER the delete survives both readers
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((5L, "reborn")).toDF("id", "v"))
    assert(IcebergImport.read(spark, t.location)
      .filter(col("id") === 5L).select("v").as[String].collect() ===
      Array("reborn"))
    val out2 = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT v FROM t WHERE id = 5").!!
    assert(out2.trim.split("\n").last === "reborn")
    // NULL keys: loud refusal (cross-engine null-equality divergence)
    val e = intercept[IllegalArgumentException](
      IcebergWriteBack.deleteKeys(spark, t.location,
        Seq(Some(1L), None).toDF("id")))
    assert(e.getMessage.contains("NULL"))
    // SQL surface
    Seq(7L).toDF("id").createOrReplaceTempView("wb_delk_keys")
    spark.sql(s"CALL graft.delete_iceberg_keys('${t.location}', " +
      "source => 'wb_delk_keys')")
    assert(IcebergImport.read(spark, t.location)
      .filter(col("id") === 7L).count() === 0)
    spark.catalog.dropTempView("wb_delk_keys")
  }

  test("mergeInto: keyed upsert as ONE overwrite commit — matched rows " +
      "tombstoned + source rows appended; diff over the foreign tree " +
      "shows exactly the update pairs; duplicate source keys refused") {
    val t = GraftTable(spark, tmpDir("wb-merge") + "/t")
    t.append((1L to 10L).map(i => (i, s"old$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)
    val base = IcebergImport.currentSnapshotId(spark, t.location).get

    // update 3,6,9; insert 11,12
    val src = Seq(3L, 6L, 9L, 11L, 12L).map(i => (i, s"new$i"))
      .toDF("id", "v")
    val s1 = IcebergWriteBack.mergeInto(spark, t.location, src,
      keys = Seq("id"))
    val got = IcebergImport.read(spark, t.location)
      .as[(Long, String)].collect().toMap
    assert(got.size === 12)
    assert(got(3L) === "new3" && got(6L) === "new6" && got(9L) === "new9")
    assert(got(1L) === "old1" && got(11L) === "new11")
    val snap = IcebergImport.snapshots(spark, t.location)
      .orderBy(col("sequence_number").desc).limit(1)
      .select("snapshot_id", "operation").as[(Long, String)].collect()(0)
    assert(snap === ((s1, "overwrite")))
    // external engine agrees on the merged state
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t WHERE v LIKE 'new%'").!!
    assert(out.trim.split("\n").last === "5")
    // the foreign changelog reconstructs the merge: 3 update pairs +
    // 2 pure inserts = 8 change rows across the range
    val d = IcebergImport.diff(spark, t.location, base)
    val byType = d.groupBy("_change_type").count()
      .as[(String, Long)].collect().toMap
    assert(byType === Map("insert" -> 5L, "delete" -> 3L))
    // duplicate source keys have no deterministic result → refuse
    val e = intercept[IllegalArgumentException](
      IcebergWriteBack.mergeInto(spark, t.location,
        Seq((1L, "a"), (1L, "b")).toDF("id", "v"), keys = Seq("id")))
    assert(e.getMessage.contains("multiple rows"))
    // a pure-insert merge publishes an honest append (follow-able)
    val tip = IcebergImport.currentSnapshotId(spark, t.location).get
    IcebergWriteBack.mergeInto(spark, t.location,
      Seq((13L, "new13")).toDF("id", "v"), keys = Seq("id"))
    assert(IcebergImport.readChanges(spark, t.location, tip)
      .select("id").as[Long].collect() === Array(13L))
  }

  test("mergeInto(equalityDeletes): the no-target-scan streaming upsert " +
      "— same result as the position merge, tombstones are equality-" +
      "encoded, and the plan never reads the target") {
    val t = GraftTable(spark, tmpDir("wb-merge-eq") + "/t")
    t.append((1L to 8L).map(i => (i, s"old$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)
    val src = Seq((2L, "new2"), (5L, "new5"), (9L, "new9"))
      .toDF("id", "v")
    IcebergWriteBack.mergeInto(spark, t.location, src, keys = Seq("id"),
      equalityDeletes = true)
    val got = IcebergImport.read(spark, t.location)
      .as[(Long, String)].collect().toMap
    assert(got.size === 9)
    assert(got(2L) === "new2" && got(5L) === "new5" && got(9L) === "new9")
    assert(got(1L) === "old1" && got(8L) === "old8")
    // tombstones are equality deletes on the key column
    val dels = IcebergImport.plan(spark, t.location).deletes
    assert(dels.nonEmpty &&
      dels.forall(_.equalityCols.contains(Seq("id"))))
    // external engine sees the same merged state
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t WHERE v LIKE 'new%'").!!
    assert(out.trim.split("\n").last === "3")
    // a second equality merge stacks (SQL surface): re-update key 2 —
    // the newer tombstone applies to the first merge's row because the
    // first merge's data seq is strictly older
    Seq((2L, "newer2")).toDF("id", "v")
      .createOrReplaceTempView("wb_eq_src2")
    spark.sql(s"CALL graft.merge_iceberg('${t.location}', " +
      "source => 'wb_eq_src2', keys => 'id', deletes => 'equality')")
    spark.catalog.dropTempView("wb_eq_src2")
    assert(IcebergImport.read(spark, t.location)
      .filter(col("id") === 2L).select("v").as[String].collect() ===
      Array("newer2"))
    val out2 = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT v FROM t WHERE id = 2").!!
    assert(out2.trim.split("\n").last === "newer2")
  }

  test("mergeInto on an identity-partitioned tree writes the upserts " +
      "under partition dirs and keeps pruning truthful") {
    val t = GraftTable(spark, tmpDir("wb-merge-part") + "/t")
    t.append(Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "a", 3.0))
      .toDF("id", "cat", "x"), parts = Seq("cat"))
    IcebergExport.export(spark, t)
    // row 3 moves partition a→c; row 4 inserts into b
    IcebergWriteBack.mergeInto(spark, t.location,
      Seq((3L, "c", 30.0), (4L, "b", 4.0)).toDF("id", "cat", "x"),
      keys = Seq("id"))
    assert(IcebergImport.read(spark, t.location).orderBy("id")
      .select("id", "cat").as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "b")))
    // pruning: partition a no longer contains id 3
    assert(IcebergImport.readPartition(spark, t.location,
      Map("cat" -> "a")).select("id").as[Long].collect() === Array(1L))
    assert(IcebergImport.readPartition(spark, t.location,
      Map("cat" -> "c")).select("id").as[Long].collect() === Array(3L))
  }

  test("compactSmallFiles: a replace commit that consumes the small " +
      "files' deletes, keeps big files' deletes in force, preserves " +
      "time travel, and stays follow-able with skipRewrites") {
    val t = GraftTable(spark, tmpDir("wb-compact") + "/t")
    t.append(spark.range(1, 2001).toDF("id")
      .withColumn("v", concat(lit("r"), col("id"))).repartition(1))
    t.append(Seq((2001L, "a"), (2002L, "b"), (2003L, "c"), (2004L, "d"),
      (2005L, "e")).toDF("id", "v").repartition(1))
    t.append(Seq((2006L, "f"), (2007L, "g"), (2008L, "h"), (2009L, "i"),
      (2010L, "j")).toDF("id", "v").repartition(1))
    IcebergExport.export(spark, t, history = 6)
    // eq delete hits the big AND a small file; pos delete hits a small
    IcebergWriteBack.deleteKeys(spark, t.location,
      Seq(3L, 2002L).toDF("id"))
    IcebergWriteBack.deleteWhere(spark, t.location, col("id") === 2007L)
    val preTip = IcebergImport.currentSnapshotId(spark, t.location).get
    val preFiles = IcebergImport.plan(spark, t.location).files
    val expect = ((1L to 2000L) ++ (2001L to 2010L))
      .filterNot(Set(3L, 2002L, 2007L)).toArray

    val sc = IcebergWriteBack.compactSmallFiles(spark, t.location,
      smallFileBytes = 5L << 10, minInputFiles = 2)
    assert(sc > preTip)
    // logical rows identical; the kept big file's eq tombstone (id 3)
    // still applies; the small files' tombstones were consumed
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted === expect)
    val post = IcebergImport.plan(spark, t.location)
    assert(post.files.size < preFiles.size)
    // rewritten files carry the new sequence; the kept big file its old
    assert(post.files.map(_.seq).max > preFiles.map(_.seq).max)
    assert(post.files.exists(f => f.seq === preFiles.map(_.seq).min))
    // external engine agrees post-compact
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t").!!
    assert(out.trim.split("\n").last === expect.length.toString)
    // snapshot op is replace; time travel to the pre-compact tip reads
    // the SAME logical rows through the original manifests
    val snap = IcebergImport.snapshots(spark, t.location)
      .orderBy(col("sequence_number").desc).limit(1)
      .select("operation").as[String].collect()(0)
    assert(snap === "replace")
    assert(IcebergImport.read(spark, t.location, Some(preTip.toString))
      .select("id").as[Long].collect().sorted === expect)
    // the follower rides through OUR compaction: replace skipped, the
    // post-compact append delivered exactly once
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((3000L, "z")).toDF("id", "v"))
    assert(IcebergImport.readChanges(spark, t.location, preTip,
      skipRewrites = true).select("id").as[Long].collect() ===
      Array(3000L))
  }

  test("streaming into a foreign tree: icebergSink appends exactly-once " +
      "via snapshot-summary txn stamps; crash-replay no-ops; the CDC " +
      "upsert sink dedups keep-latest and equality-merges per batch") {
    val base = tmpDir("wb-stream")
    val rawDir = s"$base/raw"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(rawDir))
    val t = GraftTable(spark, s"$base/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)

    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("id",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.StringType)))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(rawDir, "b1.csv"),
      "id,v\n3,c\n4,d\n".getBytes("UTF-8"))
    val stream = spark.readStream.schema(schema)
      .option("header", "true").csv(rawDir)
    val q = graft.streaming.Streaming.icebergSink(stream, t.location,
      txnAppId = "ice-sink")
      .option("checkpointLocation", s"$base/ckpt").start()
    try {
      q.processAllAvailable()
      assert(IcebergImport.read(spark, t.location).count() === 4)
      assert(IcebergWriteBack.lastCommittedBatch(spark, t.location,
        "ice-sink") === Some(0L))
      java.nio.file.Files.write(
        java.nio.file.Paths.get(rawDir, "b2.csv"),
        "id,v\n5,e\n".getBytes("UTF-8"))
      q.processAllAvailable()
      assert(IcebergImport.read(spark, t.location).count() === 5)
      assert(IcebergWriteBack.lastCommittedBatch(spark, t.location,
        "ice-sink") === Some(1L))
    } finally q.stop()

    // crash-replay: re-delivering batch 1 must be a NO-OP commit
    val tipBefore = IcebergImport.currentSnapshotId(spark, t.location).get
    val replayed = IcebergWriteBack.appendTo(spark, t.location,
      Seq((99L, "dup")).toDF("id", "v"), txn = Some(("ice-sink", 1L)))
    assert(replayed === tipBefore)
    assert(IcebergImport.read(spark, t.location).count() === 5)
    // the merge path honors the same stamp
    val mreplay = IcebergWriteBack.mergeInto(spark, t.location,
      Seq((98L, "dup")).toDF("id", "v"), keys = Seq("id"),
      txn = Some(("ice-sink", 1L)))
    assert(mreplay === tipBefore)

    // CDC upsert sink: a batch holding TWO versions of key 3 dedups
    // keep-latest by orderCol, then equality-merges (no target scan)
    val raw2 = s"$base/raw2"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(raw2))
    val schema2 = org.apache.spark.sql.types.StructType(
      schema.fields :+ org.apache.spark.sql.types.StructField("seq",
        org.apache.spark.sql.types.LongType))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(raw2, "c1.csv"),
      "id,v,seq\n3,stale,1\n3,fresh,2\n6,f,1\n".getBytes("UTF-8"))
    val stream2 = spark.readStream.schema(schema2)
      .option("header", "true").csv(raw2)
    val q3 = graft.streaming.Streaming.icebergMergeSink(stream2,
      t.location, "ice-upsert", keys = Seq("id"), orderCol = "seq")
      .option("checkpointLocation", s"$base/ckpt2").start()
    try q3.processAllAvailable() finally q3.stop()
    val got = IcebergImport.read(spark, t.location)
      .select("id", "v").as[(Long, String)].collect().toMap
    assert(got.size === 6)
    assert(got(3L) === "fresh") // keep-latest within the batch won
    assert(got(6L) === "f")
    // the upsert's tombstones are equality-encoded (streaming shape)
    assert(IcebergImport.plan(spark, t.location).deletes
      .exists(_.equalityCols.isDefined))
  }

  test("concurrent-commit race: a version published between load and " +
      "publish fails the write-back loud (never a lost update); a plain " +
      "retry lands on the next version with both commits intact") {
    val t = GraftTable(spark, tmpDir("wb-race") + "/t")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)
    // simulate a foreign engine publishing between our loadTree and our
    // version rename: pre-create the NEXT version file
    val metaDir = new java.io.File(s"${t.location}/metadata")
    val cur = metaDir.listFiles()
      .filter(_.getName.matches("v\\d+\\.metadata\\.json"))
      .maxBy(_.getName.stripPrefix("v").stripSuffix(".metadata.json").toLong)
    val curV = cur.getName.stripPrefix("v")
      .stripSuffix(".metadata.json").toLong
    val next = new java.io.File(metaDir, s"v${curV + 1}.metadata.json")
    java.nio.file.Files.copy(cur.toPath, next.toPath)
    new java.io.File(metaDir, s".v${curV + 1}.metadata.json.crc").delete()
    // the hint still says vN — our writer loads the OLD tip, computes
    // vN+1 as its target, and must find it taken: the race window

    val e = intercept[IllegalStateException](
      IcebergWriteBack.appendTo(spark, t.location,
        Seq((2L, "b")).toDF("id", "v")))
    assert(e.getMessage.contains("concurrent commit"))
    // the pre-existing version's CONTENT is untouched (no clobber — the
    // publish is create-exclusive, not exists-check + rename)
    assert(java.util.Arrays.equals(
      java.nio.file.Files.readAllBytes(next.toPath),
      java.nio.file.Files.readAllBytes(cur.toPath)))
    // nothing half-committed: the tree still reads a consistent state
    assert(IcebergImport.read(spark, t.location).count() === 1)
    // the foreign engine finishes its publish (hint advances); a plain
    // retry re-reads the tip and lands on the NEXT free version
    java.nio.file.Files.write(
      new java.io.File(metaDir, "version-hint.text").toPath,
      (curV + 1).toString.getBytes("UTF-8"))
    new java.io.File(metaDir, ".version-hint.text.crc").delete()
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((2L, "b")).toDF("id", "v"))
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted === Array(1L, 2L))
    assert(new java.io.File(metaDir,
      s"v${curV + 2}.metadata.json").exists())
  }

  test("the CDC foreign stream delivers graft's OWN row-level " +
      "write-backs: deletes as delete rows, the eq-merge as update " +
      "pairs, the compaction silently") {
    val t = GraftTable(spark, tmpDir("wb-cdc-rowlevel") + "/t")
    t.append((1L to 6L).map(i => (i, s"old$i")).toDF("id", "v")
      .repartition(2))
    IcebergExport.export(spark, t, history = 2)
    val q = spark.readStream.format("graft-iceberg")
      .option("mode", "cdc").load(t.location)
      .writeStream.format("memory").queryName("wb_cdc_rl").start()
    try {
      q.processAllAvailable()
      assert(spark.table("wb_cdc_rl").count() === 6) // full state
      IcebergWriteBack.deleteWhere(spark, t.location, col("id") === 2L)
      IcebergWriteBack.deleteKeys(spark, t.location, Seq(5L).toDF("id"))
      IcebergWriteBack.mergeInto(spark, t.location,
        Seq((3L, "new3"), (7L, "new7")).toDF("id", "v"),
        keys = Seq("id"), equalityDeletes = true)
      IcebergWriteBack.compactSmallFiles(spark, t.location,
        smallFileBytes = 64L << 20)
      q.processAllAvailable()
      // change rows per key across batch 0 (full state as inserts) and
      // the row-level commits; the compaction contributes NOTHING
      val byKey = spark.table("wb_cdc_rl")
        .select("id", "v", "_change_type").as[(Long, String, String)]
        .collect().toSeq.groupBy(_._1)
      assert(byKey(2L).map(_._3).sorted === Seq("delete", "insert"))
      assert(byKey(5L).map(_._3).sorted === Seq("delete", "insert"))
      assert(byKey(3L).map(r => (r._2, r._3)).sortBy(_.toString) ===
        Seq(("new3", "insert"), ("old3", "delete"), ("old3", "insert")))
      assert(byKey(7L).map(r => (r._2, r._3)) === Seq(("new7", "insert")))
      assert(byKey(1L).map(_._3) === Seq("insert")) // batch 0 only
      // replaying the materialized state from the change rows matches
      // the tree's current read (the compaction changed no logical row)
      assert(IcebergImport.read(spark, t.location).select("id").as[Long]
        .collect().sorted === Array(1L, 3L, 4L, 6L, 7L))
    } finally q.stop()
  }

  test("orphanFiles: lists data files no snapshot references — planted " +
      "junk immediately, compacted-then-expired originals once their " +
      "last referencing snapshot is gone; never a live file") {
    val t = GraftTable(spark, tmpDir("wb-orphan") + "/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v").repartition(1))
    IcebergExport.export(spark, t, history = 2)
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((3L, "c")).toDF("id", "v"))
    // plant debris of a failed commit
    val junk = new java.io.File(s"${t.location}/data/junk-aborted.parquet")
    java.nio.file.Files.write(junk.toPath, Array[Byte](1, 2, 3))
    val o1 = IcebergImport.orphanFiles(spark, t.location)
      .select("path").as[String].collect()
    assert(o1.length === 1 && o1(0).endsWith("junk-aborted.parquet"))
    // olderThanMs guards in-flight writers: a future cutoff includes it,
    // a past cutoff excludes it
    assert(IcebergImport.orphanFiles(spark, t.location,
      olderThanMs = junk.lastModified() - 10000L).count() === 0)
    // compact + expire: the compacted-away originals remain REFERENCED
    // (the replace snapshot's rewritten manifests carry them as
    // status=DELETED entries — Iceberg's reachability semantics, which
    // keeps orphan cleanup from racing history readers), so the orphan
    // list still holds only the junk
    IcebergWriteBack.compactSmallFiles(spark, t.location,
      smallFileBytes = 64L << 20)
    IcebergWriteBack.expireSnapshots(spark, t.location, keepLast = 1)
    val o2 = IcebergImport.orphanFiles(spark, t.location)
      .select("path").as[String].collect()
    assert(o2.length === 1 && o2(0).endsWith("junk-aborted.parquet"))
    // live state is untouched and never listed
    assert(IcebergImport.read(spark, t.location).count() === 3)
    assert(!o2.exists(p => IcebergImport.plan(spark, t.location)
      .files.map(f => new java.net.URI(f.uri).getPath)
      .exists(p.endsWith)))
  }

  test("CALL graft.register_iceberg: the temp view pins the snapshot " +
      "resolved at registration (at => time travel included); " +
      "re-registering sees later foreign commits") {
    val t = GraftTable(spark, tmpDir("wb-register") + "/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)
    val s1 = spark.sql(s"CALL graft.register_iceberg('${t.location}', " +
      "name => 'reg_v1')").collect()(0).getLong(0)
    assert(spark.table("reg_v1").count() === 2)
    // a later foreign commit is INVISIBLE to the pinned view...
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((3L, "c")).toDF("id", "v"))
    assert(spark.table("reg_v1").count() === 2)
    // ...and visible after re-registering; `at` pins the OLD snapshot
    spark.sql(s"CALL graft.register_iceberg('${t.location}', " +
      "name => 'reg_v2')")
    assert(spark.table("reg_v2").count() === 3)
    spark.sql(s"CALL graft.register_iceberg('${t.location}', " +
      s"name => 'reg_old', at => '$s1')")
    assert(spark.table("reg_old").count() === 2)
    Seq("reg_v1", "reg_v2", "reg_old")
      .foreach(spark.catalog.dropTempView)
  }

  test("COUNT(*) on a registered FOREIGN view answers from manifests " +
      "(plan collapses to a LocalRelation, zero data files opened), " +
      "exact under position deletes + deletion vectors, pinned to the " +
      "registered snapshot; equality deletes and filters fall back to " +
      "the honest scan") {
    import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
    val t = GraftTable(spark, tmpDir("wb-countmeta") + "/t")
    t.append((1L to 100L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)
    // v2 position-delete files, then a v3 upgrade whose deleteWhere
    // writes DELETION VECTORS — the mixed-tombstone worst case (a DV
    // can merge rows older parquet deletes also name; the count must
    // not double-subtract)
    IcebergWriteBack.deleteWhere(spark, t.location, col("id") % 10 === 0)
    IcebergWriteBack.upgradeFormatVersion(spark, t.location, 3)
    IcebergWriteBack.deleteWhere(spark, t.location, col("id") % 7 === 0)
    spark.sql(s"CALL graft.register_iceberg('${t.location}', " +
      "name => 'cnt_v')")
    val expect = (1L to 100L).count(i => i % 10 != 0 && i % 7 != 0)

    val cnt = spark.sql("SELECT COUNT(*) AS n FROM cnt_v")
    // metadata-only: the whole count plan IS a LocalRelation — no scan
    // operator exists, so zero data files can be opened by it
    assert(cnt.queryExecution.optimizedPlan.isInstanceOf[LocalRelation],
      cnt.queryExecution.optimizedPlan.nodeName)
    assert(cnt.collect()(0).getLong(0) === expect)
    // the honest MOR read agrees (collect, not count — a structurally
    // identical read would hit the same rewrite)
    assert(IcebergImport.read(spark, t.location).collect().length
      === expect)
    // Dataset.count() on the view takes the same manifest path
    assert(spark.table("cnt_v").count() === expect)

    // the pin: a commit AFTER registration does not leak into the count
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((200L, "late")).toDF("id", "v"))
    assert(spark.table("cnt_v").count() === expect)

    // a filter blocks the rewrite — and the scan answer matches
    val filtered = spark.sql("SELECT COUNT(*) AS n FROM cnt_v " +
      "WHERE id > 50")
    assert(!filtered.queryExecution.optimizedPlan
      .isInstanceOf[LocalRelation])
    assert(filtered.collect()(0).getLong(0) ===
      (51L to 100L).count(i => i % 10 != 0 && i % 7 != 0))

    // LIVE EQUALITY DELETES: only knowable against data rows — the
    // rewrite declines and the MOR scan answers
    val u = GraftTable(spark, tmpDir("wb-countmeta") + "/u")
    u.append((1L to 50L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, u)
    IcebergWriteBack.deleteKeys(spark, u.location,
      Seq(3L, 4L).toDF("id"))
    spark.sql(s"CALL graft.register_iceberg('${u.location}', " +
      "name => 'cnt_eq')")
    val eqCnt = spark.sql("SELECT COUNT(*) AS n FROM cnt_eq")
    assert(!eqCnt.queryExecution.optimizedPlan
      .isInstanceOf[LocalRelation])
    assert(eqCnt.collect()(0).getLong(0) === 48L)
    Seq("cnt_v", "cnt_eq").foreach(spark.catalog.dropTempView)
  }

  test("addPartitionField: spec evolution is metadata-only — old files " +
      "keep spec 0, new writes land under the evolved spec with exact " +
      "tuples, evolutions stack, and invalid evolutions refuse") {
    import org.apache.spark.sql.types.LongType
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    def day(n: Int) = java.sql.Date.valueOf(f"2024-03-$n%02d")
    val t = GraftTable(spark, tmpDir("wb-specev") + "/t")
    t.append((1L to 20L).map(i => (i, day((i % 5).toInt + 1), s"v$i"))
      .toDF("id", "d", "v"))
    IcebergExport.export(spark, t, history = 3)
    val snapshotsBefore =
      IcebergImport.snapshots(spark, t.location).count()

    // evolution 1: bucket[4] on id — metadata-only (no new snapshot)
    val spec1 = IcebergWriteBack.addPartitionField(spark, t.location,
      "id", "bucket[4]")
    assert(spec1 === 1)
    assert(IcebergImport.snapshots(spark, t.location).count()
      === snapshotsBefore)
    val sid1 = IcebergWriteBack.appendTo(spark, t.location,
      (21L to 40L).map(i => (i, day((i % 5).toInt + 1), s"v$i"))
        .toDF("id", "d", "v"))
    // tuple exactness on the evolved generation
    val (fs, meta, _) = IcebergImport.parseMeta(spark, t.location)
    val snapJ = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] == sid1).get
    val mls = IcebergImport.readAvro(fs,
      (snapJ \ "manifest-list").extract[String])
    val newMl = mls.filter(r =>
      r.get("added_snapshot_id").asInstanceOf[Long] == sid1)
    // the new manifest is stamped with the EVOLVED spec id
    assert(newMl.nonEmpty && newMl.forall(r =>
      r.get("partition_spec_id").asInstanceOf[Int] === spec1))
    val entries = newMl.flatMap(m => IcebergImport.readAvro(fs,
      m.get("manifest_path").toString))
    def bucketOf(id: Long): Int = graft.functions.IcebergBucketHash
      .bucketValue(id, LongType, 4)
    var checked = 0
    entries.foreach { e =>
      val df = e.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
      val tup = df.get("partition")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("id_bucket_4").asInstanceOf[Int]
      spark.read.parquet(df.get("file_path").toString)
        .select("id").collect().foreach { r =>
          assert(bucketOf(r.getLong(0)) === tup); checked += 1 }
    }
    assert(checked === 20)

    // evolution 2 stacks: day on d joins the bucket field
    val spec2 = IcebergWriteBack.addPartitionField(spark, t.location,
      "d", "day", name = Some("d_day"))
    assert(spec2 === 2)
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((41L, day(9), "v41")).toDF("id", "d", "v"))
    // all three generations read together
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted === (1L to 41L).toArray)
    // ...and so does the external hand-walker
    val path = new java.net.URI("file://" + t.location).getPath
    val out = scala.sys.process.Process(Seq("python3",
      "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t")).!!
    assert(out.trim.split("\n").last === "41")

    // refusals: duplicate (transform, source), bad pairing, unknown col
    assert(intercept[IllegalArgumentException](
      IcebergWriteBack.addPartitionField(spark, t.location,
        "id", "bucket[4]")).getMessage.contains("already"))
    intercept[IllegalArgumentException](
      IcebergWriteBack.addPartitionField(spark, t.location,
        "id", "day")) // time transform on a long column
    intercept[IllegalArgumentException](
      IcebergWriteBack.addPartitionField(spark, t.location,
        "nope", "bucket[4]"))
  }

  test("rewriteManifests: small data manifests consolidate to one per " +
      "group — metadata-only, live rows + deletes + old snapshots " +
      "untouched, a second run is a no-op, external reader agrees") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val t = GraftTable(spark, tmpDir("wb-rwman") + "/t")
    t.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 3)
    (1 to 4).foreach(k => IcebergWriteBack.appendTo(spark, t.location,
      Seq((10L + k, s"w$k")).toDF("id", "v")))
    IcebergWriteBack.deleteWhere(spark, t.location, col("id") === 3L)
    val preSnap = IcebergImport.currentSnapshotId(spark, t.location).get

    def manifests(sid: Long): Seq[(Int, String)] = {
      val (fs, meta, _) = IcebergImport.parseMeta(spark, t.location)
      val snapJ = (meta \ "snapshots").children.find(s =>
        (s \ "snapshot-id").extract[Long] == sid).get
      IcebergImport.readAvro(fs, (snapJ \ "manifest-list")
        .extract[String]).map { r =>
          (Option(r.getSchema.getField("content")).flatMap(_ =>
            Option(r.get("content")))
            .map(_.asInstanceOf[Number].intValue).getOrElse(0),
            String.valueOf(r.get("manifest_path")))
        }
    }
    val pre = manifests(preSnap)
    assert(pre.count(_._1 == 0) >= 5)
    val preDeletes = pre.filter(_._1 == 1).map(_._2)

    val sid = IcebergWriteBack.rewriteManifests(spark, t.location)
    assert(sid !== preSnap)
    val post = manifests(sid)
    assert(post.count(_._1 == 0) === 1,
      s"expected ONE consolidated data manifest, got $post")
    // delete manifests carried verbatim
    assert(post.filter(_._1 == 1).map(_._2) === preDeletes)
    // live state identical (the delete still applies to the
    // consolidated entries — explicit sequence numbers preserved)
    val want = ((1L to 14L).toSet - 3L).toSeq.sorted
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted === want.toArray)
    // time travel: the pre-rewrite snapshot walks its own OLD list
    assert(IcebergImport.read(spark, t.location,
      Some(preSnap.toString)).count() === want.size)
    // external hand-walker
    val path = new java.net.URI("file://" + t.location).getPath
    val out = scala.sys.process.Process(Seq("python3",
      "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t")).!!
    assert(out.trim.split("\n").last === want.size.toString)
    // idempotent: one data manifest left is below min_input — no-op
    assert(IcebergWriteBack.rewriteManifests(spark, t.location) === sid)

    // DELETE manifests consolidate too (the streaming-CDC accretion
    // shape): two more delete commits -> three delete manifests ->
    // one, with the MOR answer unchanged (explicit sequence numbers
    // keep every tombstone applying at its original ordering)
    IcebergWriteBack.deleteWhere(spark, t.location, col("id") === 7L)
    IcebergWriteBack.deleteWhere(spark, t.location, col("id") === 11L)
    val preSnap2 = IcebergImport.currentSnapshotId(spark, t.location).get
    assert(manifests(preSnap2).count(_._1 == 1) === 3)
    val sid2 = IcebergWriteBack.rewriteManifests(spark, t.location)
    assert(manifests(sid2).count(_._1 == 1) === 1)
    assert(manifests(sid2).count(_._1 == 0) === 1) // data side intact
    val want2 = (want.toSet -- Set(7L, 11L)).toSeq.sorted
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted === want2.toArray)
    val out2 = scala.sys.process.Process(Seq("python3",
      "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t")).!!
    assert(out2.trim.split("\n").last === want2.size.toString)
  }

  test("rewriteManifests on a v3 tree: consolidated entries carry " +
      "EXPLICIT row lineage (pre-upgrade files stay null), and " +
      "next-row-id does not move") {
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val t = GraftTable(spark, tmpDir("wb-rwman3") + "/t")
    t.append((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 3)
    IcebergWriteBack.upgradeFormatVersion(spark, t.location, 3)
    IcebergWriteBack.appendTo(spark, t.location,
      (6L to 8L).map(i => (i, s"v$i")).toDF("id", "v").repartition(1))
    IcebergWriteBack.appendTo(spark, t.location,
      (9L to 10L).map(i => (i, s"v$i")).toDF("id", "v").repartition(1))
    val (_, metaPre, _) = IcebergImport.parseMeta(spark, t.location)
    val nextBefore = (metaPre \ "next-row-id").extract[Long]
    assert(nextBefore === 5L) // 3 + 2 assigned post-upgrade

    val sid = IcebergWriteBack.rewriteManifests(spark, t.location)
    val (fs, meta, _) = IcebergImport.parseMeta(spark, t.location)
    assert((meta \ "next-row-id").extract[Long] === nextBefore)
    val snapJ = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] == sid).get
    val dataMls = IcebergImport.readAvro(fs,
      (snapJ \ "manifest-list").extract[String])
      .filter(r => Option(r.getSchema.getField("content")).flatMap(_ =>
        Option(r.get("content")))
        .forall(_.asInstanceOf[Number].intValue == 0))
    // post-upgrade manifests share a writer schema and consolidate;
    // the pre-upgrade export manifest has its own schema generation
    val consolidated = dataMls.filter(r =>
      r.get("added_snapshot_id").asInstanceOf[Long] == sid)
    assert(consolidated.nonEmpty)
    // nothing inherits from a consolidated manifest (entries explicit)
    consolidated.foreach(r => assert(r.get("first_row_id") == null))
    val ids = consolidated.flatMap(m => IcebergImport.readAvro(fs,
      m.get("manifest_path").toString)).map { e =>
      Option(e.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
        .get("first_row_id")).map(_.asInstanceOf[Number].longValue)
    }
    // the two post-upgrade files keep their ORIGINAL assigned bases
    assert(ids.flatten.sorted === Seq(0L, 3L))
    // and the lineage-aware read still works end to end
    assert(IcebergImport.read(spark, t.location).count() === 10)
  }

  test("expireSnapshots: metadata-only expiry keeps the retention chain " +
      "plus every ref target; expired time travel fails loud; no file " +
      "is deleted") {
    val t = GraftTable(spark, tmpDir("wb-expire") + "/t")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 4)
    val s1 = IcebergImport.currentSnapshotId(spark, t.location).get
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((2L, "b")).toDF("id", "v"))
    val s2 = IcebergImport.currentSnapshotId(spark, t.location).get
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((3L, "c")).toDF("id", "v"))
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((4L, "d")).toDF("id", "v"))
    val total = IcebergImport.snapshots(spark, t.location).count()
    assert(total >= 4)

    val dropped = IcebergWriteBack.expireSnapshots(spark, t.location,
      keepLast = 2)
    assert(dropped === total - 2)
    assert(IcebergImport.snapshots(spark, t.location).count() === 2)
    // current state intact, through both readers (no file was touched)
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted === Array(1L, 2L, 3L, 4L))
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t").!!
    assert(out.trim.split("\n").last === "4")
    // expired snapshot: loud failure, like Iceberg
    intercept[IllegalStateException](
      IcebergImport.read(spark, t.location, Some(s1.toString)).collect())
    // a ref pins its snapshot through expiry: s2 kept only if tagged —
    // rebuild scenario via SQL on a fresh keep_last=1 expire
    assert(IcebergWriteBack.expireSnapshots(spark, t.location, 1) === 1)
    assert(IcebergImport.snapshots(spark, t.location).count() === 1)
    assert(spark.sql(s"CALL graft.expire_iceberg('${t.location}', " +
      "keep_last => 1)").collect()(0).getLong(0) === 0L) // idempotent
    assert(s2 > s1) // (ids used; silence unused warnings)
  }

  test("schema-evolution write-back: add/rename/widen are metadata-only " +
      "commits — no snapshot, field-id resolution keeps old files " +
      "readable, time travel sees the old schema") {
    val t = GraftTable(spark, tmpDir("wb-evolve") + "/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)
    val tip = IcebergImport.currentSnapshotId(spark, t.location).get
    val nSnaps = IcebergImport.snapshots(spark, t.location).count()

    // ADD: current read gains a NULL column; snapshot count unchanged
    IcebergWriteBack.addColumn(spark, t.location, "w", "long")
    val afterAdd = IcebergImport.read(spark, t.location)
    assert(afterAdd.schema.fieldNames.toSeq === Seq("id", "v", "w"))
    assert(afterAdd.filter(col("w").isNull).count() === 2)
    assert(IcebergImport.currentSnapshotId(spark, t.location).get === tip)
    assert(IcebergImport.snapshots(spark, t.location).count() === nSnaps)
    // the next append must carry the evolved schema — and does
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((3L, "c", 30L)).toDF("id", "v", "w"))
    assert(IcebergImport.read(spark, t.location)
      .filter(col("w") === 30L).count() === 1)
    // time travel to the pre-evolve snapshot: OLD schema
    assert(IcebergImport.read(spark, t.location, Some(tip.toString))
      .schema.fieldNames.toSeq === Seq("id", "v"))

    // RENAME: field ids preserved — old files' bytes resolve under the
    // new name
    IcebergWriteBack.renameColumn(spark, t.location, "v", "label")
    val afterRename = IcebergImport.read(spark, t.location)
    assert(afterRename.schema.fieldNames.toSeq ===
      Seq("id", "label", "w"))
    assert(afterRename.orderBy("id").select("label").as[String]
      .collect().toSeq === Seq("a", "b", "c"))

    // SQL surface
    spark.sql(s"CALL graft.evolve_iceberg('${t.location}', " +
      "op => 'add', col => 'z', type => 'int')")
    assert(IcebergImport.read(spark, t.location).schema.fieldNames
      .contains("z"))
  }

  test("widen write-back: int->long and float->double promote per the " +
      "spec; pre-evolve files read through; stale bounds stop pruning " +
      "conservatively; disallowed promotions refused") {
    val t = GraftTable(spark, tmpDir("wb-widen") + "/t")
    t.append(Seq((1, 1.5f, "a"), (2, 2.5f, "b")).toDF("k", "x", "v"))
    IcebergExport.export(spark, t, history = 2)
    IcebergWriteBack.widenColumn(spark, t.location, "k", "long")
    IcebergWriteBack.widenColumn(spark, t.location, "x", "double")
    val widened = IcebergImport.read(spark, t.location)
    assert(widened.schema("k").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(widened.schema("x").dataType ===
      org.apache.spark.sql.types.DoubleType)
    // pre-evolve physical int32/float bytes read through the widened
    // schema (spec resolution by field id + parquet type promotion)
    assert(widened.orderBy("k").as[(Long, Double, String)].collect()
      .toSeq === Seq((1L, 1.5, "a"), (2L, 2.5, "b")))
    // post-widen appends take values outside the old range
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((5000000000L, 3.5, "c")).toDF("k", "x", "v"))
    assert(IcebergImport.read(spark, t.location)
      .filter(col("k") > Int.MaxValue.toLong).count() === 1)
    // readWhere stays CORRECT across mixed-width bounds (old files' 4-
    // byte bounds can't prune a long predicate — conservative, included)
    assert(IcebergImport.readWhere(spark, t.location, col("k") >= 2L)
      .select("v").as[String].collect().sorted === Array("b", "c"))
    // disallowed: long->int narrow, double->float, scale change
    val e = intercept[IllegalArgumentException](
      IcebergWriteBack.widenColumn(spark, t.location, "k", "int"))
    assert(e.getMessage.contains("promotion"))
  }

  test("SQL surface: CALL graft.append_iceberg commits a view into the " +
      "foreign tree") {
    val t = GraftTable(spark, tmpDir("wb-call") + "/t")
    t.append((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t)
    (6L to 9L).map(i => (i, s"v$i")).toDF("id", "v")
      .createOrReplaceTempView("wb_call_src")
    val res = spark.sql(s"CALL graft.append_iceberg('${t.location}', " +
      "source => 'wb_call_src')").collect()
    assert(res.length === 1 && res(0).getLong(0) > 0L)
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted === (1L to 9L).toArray)
    spark.catalog.dropTempView("wb_call_src")
  }

  test("SQL surface: CALL graft.merge_iceberg upserts a view; the CDC " +
      "foreign stream delivers the write-back merge as change rows") {
    val t = GraftTable(spark, tmpDir("wb-call-merge") + "/t")
    t.append((1L to 6L).map(i => (i, s"old$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)
    Seq((2L, "new2"), (7L, "new7")).toDF("id", "v")
      .createOrReplaceTempView("wb_merge_src")
    spark.sql(s"CALL graft.merge_iceberg('${t.location}', " +
      "source => 'wb_merge_src', keys => 'id')")
    val got = IcebergImport.read(spark, t.location)
      .as[(Long, String)].collect().toMap
    assert(got.size === 7 && got(2L) === "new2" && got(7L) === "new7" &&
      got(1L) === "old1")
    spark.catalog.dropTempView("wb_merge_src")
    // the graft-iceberg CDC stream rides through graft's OWN write-back
    // merge: batch 0 = merged full state as inserts (7 rows)
    val q = spark.readStream.format("graft-iceberg")
      .option("mode", "cdc").load(t.location)
      .writeStream.format("memory").queryName("wb_cdc_merge")
      .start()
    try {
      q.processAllAvailable()
      val cdc = spark.table("wb_cdc_merge")
      assert(cdc.filter(col("_change_type") === "insert").count() === 7)
    } finally q.stop()
  }

  test("concurrent commit storm: the single-winner version publish " +
      "never loses an update — every append that reported success is " +
      "in the final state") {
    val t = GraftTable(spark, tmpDir("wb-race") + "/t")
    t.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)
    val baseSnaps = IcebergImport.snapshots(spark, t.location).count()
    val threads = 4
    val outcome = new java.util.concurrent.ConcurrentHashMap[Int, Boolean]()
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = (0 until threads).map { k =>
      new Thread(() => {
        start.await()
        val rows = (1L to 5L).map(i => (100L * (k + 1) + i, s"t$k"))
          .toDF("id", "v")
        var attempts = 0
        var done = false
        while (!done && attempts < 30) {
          try {
            IcebergWriteBack.appendTo(spark, t.location, rows)
            done = true
          } catch {
            case _: IllegalStateException => attempts += 1
          }
        }
        outcome.put(k, done)
      })
    }
    pool.foreach(_.start()); start.countDown(); pool.foreach(_.join())
    assert((0 until threads).forall(outcome.get(_)),
      "every contender must eventually publish")
    // no lost update: all four slices plus the base are present, and
    // the version chain advanced by exactly 4 snapshots
    val ids = IcebergImport.read(spark, t.location).select("id")
      .as[Long].collect().sorted
    val want = ((1L to 10L) ++ (0 until threads).flatMap(k =>
      (1L to 5L).map(i => 100L * (k + 1) + i))).sorted.toArray
    assert(ids === want)
    assert(IcebergImport.snapshots(spark, t.location).count() ===
      baseSnaps + threads)
  }

  test("compaction stamps DELETED manifest entries with the COMPACTING " +
      "snapshot id, so external changelog readers attribute the " +
      "removal to the right commit") {
    val t = GraftTable(spark, tmpDir("wb-delstamp") + "/t")
    // several tiny files → all compaction candidates
    (1 to 3).foreach(k => t.append(
      Seq((k.toLong, s"v$k")).toDF("id", "v").coalesce(1)))
    IcebergExport.export(spark, t, history = 4)
    val newId = IcebergWriteBack.compactSmallFiles(spark, t.location,
      smallFileBytes = 10L << 20, targetFileBytes = 64L << 20)
    // walk the NEW manifest list: every status=2 (DELETED) entry must
    // carry the compacting snapshot's id, not the original adder's
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    import org.json4s._
    val (fs, meta, _) = IcebergImport.parseMeta(spark, t.location)
    val cur = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] == newId).get
    val listUri = (cur \ "manifest-list").extract[String]
    val deleted = IcebergImport.readAvro(fs, listUri)
      .map(r => String.valueOf(r.get("manifest_path")))
      .flatMap(m => IcebergImport.readAvro(fs, m))
      .filter(e => e.get("status").asInstanceOf[Int] == 2)
    assert(deleted.nonEmpty, "compaction must mark entries DELETED")
    assert(deleted.forall(e =>
      e.get("snapshot_id").asInstanceOf[Number].longValue == newId))
    // and the read is unchanged
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted === Array(1L, 2L, 3L))
  }

  test("append into a tree with ZERO live files defaults to id-ful " +
      "data files (ids are always safe for native readers)") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.Snap
    val loc = tmpDir("wb-empty") + "/ft"
    new java.io.File(loc).mkdirs()
    val schema = ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "string")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq.empty)), lastColumnId = 2)
    assert(IcebergImport.read(spark, loc).count() === 0)
    IcebergWriteBack.appendTo(spark, loc,
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val files = IcebergImport.plan(spark, loc).files
    assert(files.nonEmpty && files.forall(f =>
      IcebergImport.footerInfo(spark, f.uri).hasIds),
      "empty-tree append must stamp field ids")
    assert(IcebergImport.read(spark, loc).select("id").as[Long]
      .collect().sorted === Array(1L, 2L))
  }

  test("position-mode mergeInto prunes the target lineage scan by the " +
      "batch's key bounds (manifest bounds), and the duplicate-source " +
      "guard still refuses in its single stats pass") {
    val t = GraftTable(spark, tmpDir("wb-mergeprune") + "/t")
    // three appends with DISJOINT key ranges → per-file id bounds
    t.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.append((11L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.append((21L to 30L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 4)
    val allFiles = IcebergImport.plan(spark, t.location).files.size
    assert(allFiles >= 3)
    // the pruned lineage read the merge plans: a narrow batch touches
    // only the overlapping file(s)
    val pruned = IcebergImport.readLineageWhere(spark, t.location,
      col("id") >= 22L && col("id") <= 25L)
    assert(pruned.inputFiles.length < allFiles,
      "narrow key range must prune target files")
    // end-to-end: the merge updates matched rows + inserts new ones
    val batch = Seq((22L, "UP"), (25L, "UP"), (99L, "NEW"))
      .toDF("id", "v")
    IcebergWriteBack.mergeInto(spark, t.location, batch,
      keys = Seq("id"))
    val got = IcebergImport.read(spark, t.location)
      .as[(Long, String)].collect().toMap
    assert(got.size === 31)
    assert(got(22L) === "UP" && got(25L) === "UP" && got(99L) === "NEW")
    assert(got(21L) === "v21" && got(1L) === "v1")
    // duplicate source keys still refused (stats-pass guard)
    val e = intercept[IllegalArgumentException](
      IcebergWriteBack.mergeInto(spark, t.location,
        Seq((5L, "a"), (5L, "b")).toDF("id", "v"), keys = Seq("id")))
    assert(e.getMessage.contains("multiple rows"))
  }

  test("renameColumn on an id-LESS (adopted) tree publishes a " +
      "name-mapping so old files keep resolving; post-rename appends " +
      "and both generations read together") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    val loc = tmpDir("wb-nmrename") + "/ft"
    new java.io.File(loc).mkdirs()
    // adopted id-less files under the ORIGINAL column name `name_old`
    val f1 = ForeignFixtures.writeParquet(spark, loc, "A",
      Seq((1L, "a"), (2L, "b")).toDF("id", "name_old"))
    val schema = ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "name_old", "string")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(f1, 2, 1L)))),
      lastColumnId = 2)
    val sid = IcebergWriteBack.renameColumn(spark, loc,
      "name_old", "name_new")
    assert(sid > 0)
    // the mapping landed and the importer resolves old files through it
    val p = IcebergImport.plan(spark, loc)
    assert(p.schema.fieldNames.toSeq === Seq("id", "name_new"))
    assert(p.nameMapping(2).contains("name_old"))
    assert(IcebergImport.read(spark, loc).orderBy("id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b")))
    // post-rename append writes files under the NEW name; both
    // generations read side by side (per-manifest name resolution)
    IcebergWriteBack.appendTo(spark, loc,
      Seq((3L, "c")).toDF("id", "name_new"))
    assert(IcebergImport.read(spark, loc).orderBy("id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
  }

  test("v3 tree: appendTo assigns ROW LINEAGE — snapshot first-row-id " +
      "= old next-row-id, new data manifest first_row_id, metadata " +
      "next-row-id advanced by added rows, carried manifests keep " +
      "theirs; importer AND DuckDB hand-walker read the result") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val loc = tmpDir("wb-v3app") + "/ft"
    new java.io.File(loc).mkdirs()
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val fB = ForeignFixtures.writeParquet(spark, loc, "B",
      Seq((4L, "d"), (5L, "e"), (6L, "f")).toDF("id", "v"))
    val schema = ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "string")))
    // two data manifests -> fixture assigns first_row_id 0 and 3,
    // next-row-id 6 (the shape a native v3 writer leaves behind)
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append",
        Seq(Data(fA, 3, 1L), Data(fB, 3, 1L, group = 1)))),
      formatVersion = 3, lastColumnId = 2)

    val sid = IcebergWriteBack.appendTo(spark, loc,
      Seq((7L, "g"), (8L, "h")).toDF("id", "v"))
    assert(IcebergImport.read(spark, loc).select("id").as[Long]
      .collect().sorted === (1L to 8L).toArray)

    val (fs, meta, _) = IcebergImport.parseMeta(spark, loc)
    assert((meta \ "format-version").extract[Int] === 3)
    assert((meta \ "next-row-id").extract[Long] === 8L)
    val snapJ = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] == sid).get
    assert((snapJ \ "first-row-id").extract[Long] === 6L)
    val (recs, listAttrs) = IcebergImport.readAvroWithMeta(fs,
      (snapJ \ "manifest-list").extract[String])
    assert(listAttrs.get("format-version").contains("3"))
    def frid(r: org.apache.avro.generic.GenericRecord): Option[Long] =
      Option(r.get("first_row_id")).map(_.asInstanceOf[Number].longValue)
    // carried manifests keep the fixture's values; the new one starts
    // at the snapshot's first-row-id
    assert(recs.flatMap(frid).sorted === Seq(0L, 3L, 6L))

    // chained v3 append: lineage keeps advancing from the new mark
    IcebergWriteBack.appendTo(spark, loc, Seq((9L, "i")).toDF("id", "v"))
    val (_, meta2, _) = IcebergImport.parseMeta(spark, loc)
    assert((meta2 \ "next-row-id").extract[Long] === 9L)

    // independent reader: the DuckDB hand-walker over the v3 tree
    val path = new java.net.URI("file://" + loc).getPath
    val out = scala.sys.process.Process(Seq("python3",
      "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t")).!!
    assert(out.trim.split("\n").last === "9")
  }

  test("v3 tree: deleteKeys commits equality deletes (legal in v3) " +
      "without advancing next-row-id; equality-mode merge assigns " +
      "fresh ids to its inserts") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val loc = tmpDir("wb-v3del") + "/ft"
    new java.io.File(loc).mkdirs()
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val schema = ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "string")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fA, 3, 1L)))),
      formatVersion = 3, lastColumnId = 2)

    IcebergWriteBack.deleteKeys(spark, loc, Seq(2L).toDF("id"))
    assert(IcebergImport.read(spark, loc).select("id").as[Long]
      .collect().sorted === Array(1L, 3L))
    val (_, meta, _) = IcebergImport.parseMeta(spark, loc)
    assert((meta \ "next-row-id").extract[Long] === 3L,
      "a delete assigns no row ids")

    // equality-mode merge is the v3 upsert path — and DOES assign ids
    // to its inserted rows
    IcebergWriteBack.mergeInto(spark, loc,
      Seq((3L, "C"), (4L, "d")).toDF("id", "v"), keys = Seq("id"),
      equalityDeletes = true)
    assert(IcebergImport.read(spark, loc).orderBy("id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "a"), (3L, "C"), (4L, "d")))
    val (_, meta2, _) = IcebergImport.parseMeta(spark, loc)
    assert((meta2 \ "next-row-id").extract[Long] === 5L)

  }

  test("append under a HIDDEN-TRANSFORM spec (bucket[4] + day): every " +
      "written file's manifest tuple equals the spec's transform of its " +
      "rows, the source columns stay in the data, nulls land in the " +
      "null partition, and both external readers see the result") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    import org.apache.spark.sql.types.LongType
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val loc = tmpDir("wb-hiddenapp") + "/ft"
    new java.io.File(loc).mkdirs()
    def ts(d: String, h: Int): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.LocalDate.parse(d)
        .atTime(h, 0).toInstant(java.time.ZoneOffset.UTC))
    def bucketOf(id: Long): Int = graft.functions.IcebergBucketHash
      .bucketValue(id, LongType, 4)
    def dayOf(t: java.sql.Timestamp): Int =
      t.toInstant.atZone(java.time.ZoneOffset.UTC)
        .toLocalDate.toEpochDay.toInt
    val seedRow = (100L, ts("2024-03-01", 8), "seed")
    val fSeed = ForeignFixtures.writeParquet(spark, loc, "S",
      Seq(seedRow).toDF("id", "ts", "v"))
    val schema = ForeignFixtures.schemaJson(0, Seq((1, "id", "long"),
      (2, "ts", "timestamptz"), (3, "v", "string")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0,
      Seq(ForeignFixtures.SpecField("id_bucket", "bucket[4]", 1, "int"),
        ForeignFixtures.SpecField("ts_day", "day", 2, "int")),
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fSeed, 1, 1L,
        Map("id_bucket" -> bucketOf(100L),
          "ts_day" -> dayOf(seedRow._2)))))),
      lastColumnId = 3)

    val rows = Seq(
      (1L, Some(ts("2024-03-05", 9)), "a"),
      (2L, Some(ts("2024-03-05", 10)), "b"),
      (3L, Some(ts("2024-03-06", 9)), "c"),
      (4L, Some(ts("2024-03-06", 23)), "d"),
      (5L, None: Option[java.sql.Timestamp], "e")) // null day partition
    val sid = IcebergWriteBack.appendTo(spark, loc,
      rows.toDF("id", "ts", "v"))
    // read-back: all rows, source columns intact in the data
    val got = IcebergImport.read(spark, loc).orderBy("id")
      .select("id", "v").as[(Long, String)].collect().toSeq
    assert(got === Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"),
      (5L, "e"), (100L, "seed")))

    // THE tuple-exactness check: for every appended file, the manifest
    // partition tuple must equal the spec's transform of EVERY row in
    // that file (a wrong tuple silently mis-prunes external planners)
    val (fs, meta, _) = IcebergImport.parseMeta(spark, loc)
    val snapJ = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] == sid).get
    val newManifests = IcebergImport.readAvro(fs,
      (snapJ \ "manifest-list").extract[String])
      .filter(r => r.get("added_snapshot_id").asInstanceOf[Long] == sid)
    val entries = newManifests.flatMap(m =>
      IcebergImport.readAvro(fs, m.get("manifest_path").toString))
    assert(entries.nonEmpty)
    var checkedRows = 0L
    entries.foreach { e =>
      val df = e.get("data_file")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
      val part = df.get("partition")
        .asInstanceOf[org.apache.avro.generic.GenericRecord]
      val tb = Option(part.get("id_bucket")).map(_.asInstanceOf[Int])
      val td = Option(part.get("ts_day")).map(_.asInstanceOf[Int])
      val fileRows = spark.read
        .parquet(df.get("file_path").toString)
        .select("id", "ts").collect()
      fileRows.foreach { r =>
        assert(Some(bucketOf(r.getLong(0))) === tb,
          s"bucket tuple mismatch for id=${r.getLong(0)}")
        val want = Option(r.getTimestamp(1)).map(dayOf)
        assert(want === td, s"day tuple mismatch for id=${r.getLong(0)}")
      }
      checkedRows += fileRows.length
    }
    assert(checkedRows === rows.size)

    // both external readers: DuckDB hand-walk count
    val path = new java.net.URI("file://" + loc).getPath
    val out = scala.sys.process.Process(Seq("python3",
      "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t")).!!
    assert(out.trim.split("\n").last === "6")
  }

  test("write-back data files record TRUTHFUL column stats: bounds " +
      "prune readWhere on written files, null counts prune IS NULL, " +
      "and the external hand-walker decodes the same bounds") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    val loc = tmpDir("wb-stats") + "/ft"
    new java.io.File(loc).mkdirs()
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      Seq((1L, "a")).toDF("id", "v"))
    ForeignFixtures.writeTree(loc, Seq(ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "string")))), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fA, 1, 1L)))),
      lastColumnId = 2)
    // two disjoint key-range appends -> two files with disjoint bounds
    IcebergWriteBack.appendTo(spark, loc,
      (10L to 19L).map(i => (i, s"v$i")).toDF("id", "v").repartition(1))
    IcebergWriteBack.appendTo(spark, loc,
      (1000L to 1009L).map(i => (i, Option(s"v$i").filter(_ => i % 2 == 0)))
        .toDF("id", "v").repartition(1))
    // range predicate keeps only the matching written file (the seed
    // file has no id bounds from the fixture and is conservatively kept)
    val hit = IcebergImport.readWhere(spark, loc,
      col("id") >= 1000L && col("id") <= 1004L)
    assert(hit.inputFiles.length <= 2, // pruned file 10..19 dropped
      s"bounds pruning broke: ${hit.inputFiles.length} files")
    assert(!hit.inputFiles.exists(_.contains("graft-append-")) ||
      hit.inputFiles.length < 3)
    assert(hit.select("id").as[Long].collect().sorted ===
      (1000L to 1004L).toArray)
    // null counts: IS NULL prunes the all-non-null written file (the
    // one whose recorded id bounds top out at 19)
    val zeroNullFile = IcebergImport.plan(spark, loc).files
      .find(_.upper.get("id").contains(19L)).get.uri
    val zeroNullName = zeroNullFile.split('/').last
    val nullHit = IcebergImport.readWhere(spark, loc, col("v").isNull)
    assert(!nullHit.inputFiles.exists(_.endsWith(zeroNullName)),
      "the zero-null written file must prune out of IS NULL")
    assert(nullHit.select("id").as[Long].collect().sorted ===
      (1000L to 1009L).filter(_ % 2 == 1).toArray)
    // the independent hand-walker decodes bounds from the same manifest
    val path = new java.net.URI("file://" + loc).getPath
    val planOut = scala.sys.process.Process(Seq("python3",
      "tools/read_iceberg_duckdb.py", path, "--plan")).!!
    assert(planOut.contains("\"lower_bounds\""))
    assert(planOut.contains("1000"), "written bounds visible externally")
  }

  test("upgradeFormatVersion: v1 -> 2 enables write-back (pre-upgrade " +
      "rows read as sequence 0), v2 -> 3 enables deletion vectors with " +
      "null lineage for pre-upgrade rows; downgrades refuse") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val loc = tmpDir("wb-upgrade") + "/ft"
    new java.io.File(loc).mkdirs()
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val schema = ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "string")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fA, 3, 1L)))),
      formatVersion = 1, lastColumnId = 2)
    // v1: write-back refuses (no sequence numbers)
    intercept[IllegalArgumentException](
      IcebergWriteBack.appendTo(spark, loc, Seq((4L, "d")).toDF("id", "v")))
    // upgrade to 2 via the SQL surface — appends and key deletes work,
    // and the equality delete tombstones the PRE-UPGRADE row too
    // (pre-upgrade data reads as sequence <= any new delete's)
    spark.sql(s"CALL graft.upgrade_iceberg('$loc', to => '2')")
    IcebergWriteBack.appendTo(spark, loc, Seq((4L, "d")).toDF("id", "v"))
    IcebergWriteBack.deleteKeys(spark, loc, Seq(2L).toDF("id"))
    assert(IcebergImport.read(spark, loc).select("id").as[Long]
      .collect().sorted === Array(1L, 3L, 4L))
    // upgrade to 3: row-level delete now writes a DELETION VECTOR;
    // pre-upgrade rows carry NULL lineage (their manifests never had
    // first_row_id), post-upgrade appends take real ids
    IcebergWriteBack.upgradeFormatVersion(spark, loc, 3)
    val (_, m3, _) = IcebergImport.parseMeta(spark, loc)
    assert((m3 \ "format-version").extract[Int] === 3)
    assert((m3 \ "next-row-id").extract[Long] === 0L)
    IcebergWriteBack.deleteWhere(spark, loc, col("id") === 3L)
    val p = IcebergImport.plan(spark, loc)
    assert(p.dvs.size === 1)
    assert(IcebergImport.read(spark, loc).select("id").as[Long]
      .collect().sorted === Array(1L, 4L))
    IcebergWriteBack.appendTo(spark, loc, Seq((5L, "e")).toDF("id", "v"))
    val (_, m4, _) = IcebergImport.parseMeta(spark, loc)
    assert((m4 \ "next-row-id").extract[Long] === 1L)
    // downgrade / no-op refuse loudly
    val e = intercept[IllegalArgumentException](
      IcebergWriteBack.upgradeFormatVersion(spark, loc, 2))
    assert(e.getMessage.contains("only increase"))
  }

  test("v3 addColumn with a DEFAULT: pre-evolution rows read the " +
      "default (initial-default + write-default published), the SQL " +
      "surface takes default =>, and a v2 tree refuses") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    val loc = tmpDir("wb-v3adddef") + "/ft"
    new java.io.File(loc).mkdirs()
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val schema = ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "string")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fA, 2, 1L)))),
      formatVersion = 3, lastColumnId = 2)
    spark.sql(s"CALL graft.evolve_iceberg('$loc', op => 'add', " +
      "col => 'flag', type => 'int', default => '7')")
    // pre-evolution rows read 7; an append THROUGH the evolved schema
    // carries its own values
    IcebergWriteBack.appendTo(spark, loc,
      Seq((3L, "c", 9)).toDF("id", "v", "flag"))
    val got = IcebergImport.read(spark, loc).orderBy("id")
      .select("id", "flag").as[(Long, Int)].collect().toSeq
    assert(got === Seq((1L, 7), (2L, 7), (3L, 9)))

    // a v2 tree refuses the default loudly
    val loc2 = tmpDir("wb-v2adddef") + "/ft"
    new java.io.File(loc2).mkdirs()
    val fB = ForeignFixtures.writeParquet(spark, loc2, "A",
      Seq((1L, "a")).toDF("id", "v"))
    ForeignFixtures.writeTree(loc2, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fB, 1, 1L)))),
      lastColumnId = 2)
    val e = intercept[IllegalArgumentException](
      IcebergWriteBack.addColumn(spark, loc2, "flag", "int", Some(7)))
    assert(e.getMessage.contains("format-version-3"))
  }

  test("v3 compaction PRESERVES row lineage: surviving rows keep their " +
      "_row_id / _last_updated_sequence_number (materialized into the " +
      "rewrite), a second delete+compact round trips through the " +
      "materialized columns") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val loc = tmpDir("wb-v3compact") + "/ft"
    new java.io.File(loc).mkdirs()
    // two data manifests -> fixture assigns first_row_id 0 and 3
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    val fB = ForeignFixtures.writeParquet(spark, loc, "B",
      Seq((4L, "d"), (5L, "e"), (6L, "f")).toDF("id", "v"))
    val schema = ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "string")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append",
        Seq(Data(fA, 3, 1L), Data(fB, 3, 1L, group = 1)))),
      formatVersion = 3, lastColumnId = 2)

    // rows carry inherited ids 0..5; id=2 (row id 1) dies via DV
    IcebergWriteBack.deleteWhere(spark, loc, col("id") === 2L)
    IcebergWriteBack.compactSmallFiles(spark, loc, minInputFiles = 2)
    assert(IcebergImport.read(spark, loc).select("id").as[Long]
      .collect().sorted === Array(1L, 3L, 4L, 5L, 6L))
    // the rewrite's output files MATERIALIZE the preserved lineage
    val newFiles = IcebergImport.plan(spark, loc).files
      .filter(_.uri.contains("graft-append-"))
    assert(newFiles.nonEmpty)
    val mat = spark.read.parquet(newFiles.map(_.uri): _*)
      .select("id", "_row_id", "_last_updated_sequence_number")
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(mat.map(r => (r._1, r._2)).toSeq ===
      Seq((1L, 0L), (3L, 2L), (4L, 3L), (5L, 4L), (6L, 5L)),
      "row ids preserved through the rewrite (id=2 held row id 1)")
    assert(mat.forall(_._3 === 1L),
      "last-updated sequence stays the ORIGINAL data sequence")
    // next-row-id advanced by the rewrite's added rows (spec-legal id
    // consumption; materialized columns win on read)
    val (_, m1, _) = IcebergImport.parseMeta(spark, loc)
    assert((m1 \ "next-row-id").extract[Long] === 6L + 5L)

    // second round: delete + compact again — lineage must now round
    // trip through the MATERIALIZED columns (no inheritance left)
    IcebergWriteBack.appendTo(spark, loc,
      Seq((7L, "g")).toDF("id", "v")) // second input for minInputFiles
    IcebergWriteBack.deleteWhere(spark, loc, col("id") === 4L)
    IcebergWriteBack.compactSmallFiles(spark, loc, minInputFiles = 2)
    assert(IcebergImport.read(spark, loc).select("id").as[Long]
      .collect().sorted === Array(1L, 3L, 5L, 6L, 7L))
    val newFiles2 = IcebergImport.plan(spark, loc).files
    val mat2 = spark.read.parquet(newFiles2.map(_.uri): _*)
      .select("id", "_row_id").as[(Long, Long)].collect().sortBy(_._1)
    // 7 appended after compact 1 took ids 6..10: its file's first
    // row id is 11, so id=7 carries row id 11
    assert(mat2.toSeq === Seq((1L, 0L), (3L, 2L), (5L, 4L), (6L, 5L),
      (7L, 11L)))
  }

  test("v3 tree: deleteWhere writes DELETION VECTORS — a second delete " +
      "on the same file MERGES the prior DV and supersedes it (one " +
      "live DV per file); position-mode merge tombstones via DV too") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    implicit val fmts: org.json4s.Formats = org.json4s.DefaultFormats
    val loc = tmpDir("wb-v3dv") + "/ft"
    new java.io.File(loc).mkdirs()
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      (1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    val schema = ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "string")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fA, 10, 1L)))),
      formatVersion = 3, lastColumnId = 2)

    // first row-level delete: a DV tombstones ids 2,4
    IcebergWriteBack.deleteWhere(spark, loc,
      col("id") === 2L || col("id") === 4L)
    val p1 = IcebergImport.plan(spark, loc)
    assert(p1.dvs.size === 1 && p1.dvs.head.dataFileUri === fA)
    assert(p1.deletes.isEmpty, "no position-delete FILES on v3")
    assert(IcebergImport.read(spark, loc).select("id").as[Long]
      .collect().sorted === Array(1L, 3L, 5L, 6L, 7L, 8L, 9L, 10L))
    // a delete assigns no row ids
    val (_, m1, _) = IcebergImport.parseMeta(spark, loc)
    assert((m1 \ "next-row-id").extract[Long] === 10L)

    // second delete on the SAME file: the new DV carries old ∪ new and
    // the old DV entry is superseded — exactly one live DV remains
    IcebergWriteBack.deleteWhere(spark, loc, col("id") === 7L)
    val p2 = IcebergImport.plan(spark, loc)
    assert(p2.dvs.size === 1, s"expected ONE live DV, got ${p2.dvs}")
    val conf = spark.sessionState.newHadoopConf()
    val merged = Puffin.readDv(conf, p2.dvs.head.uri,
      p2.dvs.head.offset, p2.dvs.head.length)
    assert(merged.toSeq === Seq(1L, 3L, 6L),
      "merged DV = ordinals of ids 2,4,7 in the sorted file")
    assert(IcebergImport.read(spark, loc).select("id").as[Long]
      .collect().sorted === Array(1L, 3L, 5L, 6L, 8L, 9L, 10L))
    // time travel to the first delete still sees id=7
    val sids = IcebergImport.snapshots(spark, loc)
      .orderBy("sequence_number").select("snapshot_id").as[Long]
      .collect()
    assert(IcebergImport.read(spark, loc, Some(sids(1).toString))
      .select("id").as[Long].collect().sorted
      === Array(1L, 3L, 5L, 6L, 7L, 8L, 9L, 10L))

    // position-mode merge on v3: matched rows tombstone via DV, the
    // data manifest takes fresh row ids
    IcebergWriteBack.mergeInto(spark, loc,
      Seq((5L, "V5"), (11L, "v11")).toDF("id", "v"), keys = Seq("id"))
    assert(IcebergImport.read(spark, loc).orderBy("id")
      .as[(Long, String)].collect().toSeq ===
      Seq((1L, "v1"), (3L, "v3"), (5L, "V5"), (6L, "v6"), (8L, "v8"),
        (9L, "v9"), (10L, "v10"), (11L, "v11")))
    val (_, m3, _) = IcebergImport.parseMeta(spark, loc)
    assert((m3 \ "next-row-id").extract[Long] === 12L,
      "merge data manifest assigned 2 fresh row ids")

    // independent reader: the DuckDB hand-walker decodes the DV blobs
    // from the specs alone and applies them as position tombstones
    val path = new java.net.URI("file://" + loc).getPath
    val out = scala.sys.process.Process(Seq("python3",
      "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t")).!!
    assert(out.trim.split("\n").last === "8")
  }

  test("COLLECTION-carrying foreign tree: appendTo and keyed mergeInto " +
      "work (list column values update through the position-tombstone " +
      "path); a nested-typed equality-delete key refuses loud") {
    import ForeignFixtures.{Data, Snap}
    import org.apache.spark.sql.types._
    import scala.jdk.CollectionConverters._
    val loc = tmpDir("wb-coll") + "/ft"
    new java.io.File(loc).mkdirs()
    def meta(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val collSchema = StructType(Seq(
      StructField("id", LongType, nullable = true, meta(1)),
      StructField("xs", ArrayType(LongType), nullable = true, meta(2))))
    def frame(rows: Seq[(Long, Seq[Long])]) = spark.createDataFrame(
      rows.map { case (i, xs) => org.apache.spark.sql.Row(i, xs) }
        .asJava, collSchema)
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      frame((1L to 6L).map(i => i -> Seq(i, i * 10))))
    ForeignFixtures.writeTree(loc, Seq(ForeignFixtures.schemaJsonTyped(0,
      Seq((1, "id", "\"long\""),
        (2, "xs", ForeignFixtures.listType(4, "\"long\""))))),
      0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fA, 6L, 1L)))),
      lastColumnId = 4)
    // append rows WITH list values
    IcebergWriteBack.appendTo(spark, loc,
      frame(Seq(7L -> Seq(7L, 70L), 8L -> Seq(8L, 80L))))
    val afterAppend = IcebergImport.read(spark, loc)
      .select($"id", element_at($"xs", 2).as("x2"))
      .as[(Long, Long)].collect().toMap
    assert(afterAppend === (1L to 8L).map(i => i -> i * 10).toMap)
    // keyed merge: update 2's list, insert 9 — the position-tombstone
    // path must work over the collection-carrying files
    IcebergWriteBack.mergeInto(spark, loc,
      frame(Seq(2L -> Seq(2L, 999L), 9L -> Seq(9L, 90L))),
      keys = Seq("id"))
    val merged = IcebergImport.read(spark, loc)
      .select($"id", element_at($"xs", 2).as("x2"))
      .as[(Long, Long)].collect().toMap
    assert(merged.size === 9 && merged(2L) === 999L &&
      merged(9L) === 90L && merged(3L) === 30L)
    // the appended/merged footers keep the tree id-ful (top-level and
    // inner-struct ids; anonymous list elements resolve structurally)
    val newFiles = IcebergImport.plan(spark, loc).files
      .filter(_.uri.contains("graft-append-"))
    assert(newFiles.nonEmpty && newFiles.forall(f =>
      IcebergImport.footerInfo(spark, f.uri).hasIds))
    // equality-delete keys must be primitive — a list-typed key refuses
    val e = intercept[IllegalArgumentException](
      IcebergWriteBack.deleteKeys(spark, loc,
        frame(Seq(1L -> Seq(1L, 10L))).select("xs")))
    assert(e.getMessage.contains("xs") &&
      e.getMessage.contains("primitive"), e.getMessage)
  }
}
