package graft.iceberg

import scala.sys.process._

import org.apache.spark.sql.functions._
import org.json4s._

import graft.SparkSpec
import graft.table.GraftTable

/** Spec-fidelity of the metadata graft PUBLISHES into foreign trees:
  * truthful snapshot-summary metrics (the standard keys external
  * engines surface in their history views — added/deleted files and
  * records, running totals) and `metadata-log` maintenance (every
  * commit records the file it superseded, capped like Iceberg's
  * write.metadata.previous-versions-max). Numbers are asserted against
  * independently-computed expectations, never against the writer's own
  * arithmetic. */
class IcebergMetadataFidelitySpec extends SparkSpec {
  import spark.implicits._

  private implicit val fmts: Formats = DefaultFormats

  private def tipSummary(loc: String): Map[String, String] = {
    val (_, meta, _) = IcebergImport.parseMeta(spark, loc)
    val cur = (meta \ "current-snapshot-id").extract[Long]
    val snap = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] == cur).get
    (snap \ "summary") match {
      case JObject(fs0) => fs0.collect {
        case (k, JString(v)) => k -> v }.toMap
      case _ => Map.empty
    }
  }

  private def metaLog(loc: String): List[(Long, String)] = {
    val (_, meta, _) = IcebergImport.parseMeta(spark, loc)
    (meta \ "metadata-log").children.map(e =>
      ((e \ "timestamp-ms").extract[Long],
        (e \ "metadata-file").extract[String]))
  }

  test("append: added/total metrics match independent counts; the " +
      "delete commit adds delete files without touching total-records; " +
      "the rewritten-manifest commit reports its deletions") {
    val t = GraftTable(spark, tmpDir("fid-sum") + "/t")
    t.append((1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 4)

    IcebergWriteBack.appendTo(spark, t.location,
      (41L to 55L).map(i => (i, s"v$i")).toDF("id", "v"))
    val s1 = tipSummary(t.location)
    assert(s1("operation") === "append")
    assert(s1("added-records") === "15")
    assert(s1("total-records") === "55")
    assert(s1("added-delete-files") === "0")
    assert(s1("total-data-files").toLong ===
      IcebergImport.plan(spark, t.location).files.size.toLong)

    // position delete: tombstones are DELETE files, data rows stay in
    // total-records (they still exist in data files — the spec's
    // accounting; the MOR read subtracts, the totals do not)
    IcebergWriteBack.deleteWhere(spark, t.location, expr("id % 5 = 0"))
    val s2 = tipSummary(t.location)
    assert(s2("operation") === "delete")
    assert(s2("added-delete-files").toLong >= 1L)
    assert(s2("added-records") === "0")
    assert(s2("total-records") === "55")
    assert(s2("total-delete-files").toLong >= 1L)

    // consolidation rewrites delete manifests: the replaced entries are
    // reported as removed delete files, totals reflect the new state
    IcebergWriteBack.deleteWhere(spark, t.location, expr("id % 7 = 1"))
    IcebergWriteBack.rewritePositionDeletes(spark, t.location)
    val s3 = tipSummary(t.location)
    assert(s3("operation") === "replace")
    assert(s3("removed-delete-files").toLong >= 2L,
      s"consolidation must report the retired tombstone files, got $s3")
    assert(s3("added-delete-files").toLong >= 1L)
    assert(s3("total-records") === "55")

    // the .snapshots view exposes the full bag
    val viewed = IcebergImport.snapshots(spark, t.location)
      .orderBy(col("sequence_number").desc).limit(1)
      .select("summary").as[Map[String, String]].collect()(0)
    assert(viewed === s3)
    // external engine: unaffected by the richer summaries
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t").!!
    assert(out.trim.split("\n").last === (1L to 55L).count(i =>
      i % 5 != 0 && i % 7 != 1).toString)
  }

  test("compaction reports deleted-data-files/deleted-records for the " +
      "rewritten inputs and truthful new totals") {
    val t = GraftTable(spark, tmpDir("fid-comp") + "/t")
    t.append((1L to 10L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 4)
    (1 to 3).foreach(k => IcebergWriteBack.appendTo(spark, t.location,
      ((10L + k) to (10L + k)).map(i => (i, s"v$i")).toDF("id", "v")))
    val pre = IcebergImport.plan(spark, t.location).files.size
    IcebergWriteBack.compactSmallFiles(spark, t.location,
      smallFileBytes = 32L << 20, targetFileBytes = 128L << 20,
      minInputFiles = 2)
    val s = tipSummary(t.location)
    assert(s("operation") === "replace")
    assert(s("deleted-data-files").toLong >= 2L,
      s"compaction must report its consumed inputs, got $s")
    assert(s("added-data-files").toLong >= 1L)
    val post = IcebergImport.plan(spark, t.location).files.size
    assert(s("total-data-files").toLong === post.toLong && post < pre)
    assert(s("total-records") === "13")
  }

  test("export stamps truthful total-* metrics on every exported " +
      "snapshot (added-* omitted: the export synthesizes full state)") {
    val t = GraftTable(spark, tmpDir("fid-exp") + "/t")
    t.append((1L to 30L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.append((31L to 45L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 2)
    val (_, meta, _) = IcebergImport.parseMeta(spark, t.location)
    val cur = (meta \ "current-snapshot-id").extract[Long]
    val snap = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] == cur).get
    assert((snap \ "summary" \ "total-records")
      .extract[String] === "45")
    assert((snap \ "summary" \ "total-data-files").extract[String]
      .toLong === IcebergImport.plan(spark, t.location).files.size)
    assert((snap \ "summary" \ "added-records") === JNothing)
    // every exported snapshot carries its OWN state's totals
    val prev = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] != cur).get
    assert((prev \ "summary" \ "total-records")
      .extract[String] === "30")
  }

  /** Check every record of the current manifest list against the
    * manifest it names, read independently: its added / existing /
    * deleted file and row counts equal the entries with status 1 / 0 /
    * 2, its min_sequence_number is at most every live entry's sequence
    * number (a null one inherits the record's), and manifest_length is
    * the file's length. */
  private def assertListCounts(loc: String, step: String): Unit = {
    val (fs, meta, _) = IcebergImport.parseMeta(spark, loc)
    val cur = (meta \ "current-snapshot-id").extract[Long]
    val snap = (meta \ "snapshots").children.find(s =>
      (s \ "snapshot-id").extract[Long] == cur).get
    val list = IcebergImport.readAvro(fs,
      (snap \ "manifest-list").extract[String])
    assert(list.nonEmpty, step)
    list.foreach { r =>
      def n(f: String): Long = r.get(f).asInstanceOf[Number].longValue
      val path = r.get("manifest_path").toString
      val entries = IcebergImport.readAvro(fs, path)
      def status(e: org.apache.avro.generic.GenericRecord): Int =
        e.get("status").asInstanceOf[Number].intValue
      def rows(e: org.apache.avro.generic.GenericRecord): Long =
        e.get("data_file").asInstanceOf[org.apache.avro.generic
          .GenericRecord].get("record_count").asInstanceOf[Number].longValue
      Seq((1, "added"), (0, "existing"), (2, "deleted")).foreach {
        case (st, kind) =>
          val es = entries.filter(status(_) == st)
          assert(n(s"${kind}_data_files_count") === es.size.toLong,
            s"$step: ${kind}_data_files_count of $path")
          assert(n(s"${kind}_rows_count") === es.map(rows).sum,
            s"$step: ${kind}_rows_count of $path")
      }
      entries.filter(status(_) != 2).foreach { e =>
        val seq = Option(e.get("sequence_number"))
          .fold(n("sequence_number"))(_.asInstanceOf[Number].longValue)
        assert(n("min_sequence_number") <= seq,
          s"$step: min_sequence_number of $path above a live entry's $seq")
      }
      assert(n("manifest_length") === fs.getFileStatus(
        new org.apache.hadoop.fs.Path(new java.net.URI(path))).getLen,
        s"$step: manifest_length of $path")
    }
  }

  test("every writer path's manifest-list counts, min sequence numbers " +
      "and lengths match the manifests they name") {
    val t = GraftTable(spark, tmpDir("fid-counts") + "/t")
    t.append((1L to 40L).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "v", "ts").coalesce(2))
    t.deletePositions($"id" === 4L || $"id" === 17L)
    t.merge(Seq((9L, "upd", 999L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    assert(t.liveDeletes().count(_.isPosition) === 1)
    assert(t.liveDeletes().count(!_.isPosition) === 1)
    IcebergExport.export(spark, t, history = 4)
    assertListCounts(t.location, "export")

    IcebergWriteBack.appendTo(spark, t.location,
      (41L to 55L).map(i => (i, s"v$i", i * 10L)).toDF("id", "v", "ts"))
    assertListCounts(t.location, "appendTo")
    IcebergWriteBack.deleteWhere(spark, t.location, expr("id % 5 = 0"))
    assertListCounts(t.location, "deleteWhere")
    IcebergWriteBack.deleteKeys(spark, t.location,
      Seq(41L, 42L).toDF("id"))
    assertListCounts(t.location, "deleteKeys")
    IcebergWriteBack.compactSmallFiles(spark, t.location)
    assertListCounts(t.location, "compactSmallFiles")
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((56L, "v56", 560L)).toDF("id", "v", "ts"))
    IcebergWriteBack.rewriteManifests(spark, t.location)
    assertListCounts(t.location, "rewriteManifests")

    IcebergWriteBack.deleteWhere(spark, t.location, expr("id % 7 = 1"))
    IcebergWriteBack.upgradeFormatVersion(spark, t.location, 3)
    IcebergWriteBack.deleteWhere(spark, t.location, expr("id % 11 = 2"))
    IcebergWriteBack.rewritePositionDeletes(spark, t.location)
    assertListCounts(t.location, "v3 rewritePositionDeletes")

    val expect = (1L to 56L).filter(i => i != 4L && i != 17L &&
      i % 5 != 0 && i != 41L && i != 42L && i % 7 != 1 && i % 11 != 2)
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted.toSeq === expect)
  }

  test("metadata-log: every commit appends the file it superseded, " +
      "stamped with THAT version's last-updated-ms; ref ops and " +
      "upgrades maintain it too; the cap bounds growth") {
    val t = GraftTable(spark, tmpDir("fid-log") + "/t")
    t.append((1L to 5L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 4)
    val (_, m0, f0) = IcebergImport.parseMeta(spark, t.location)
    val ts0 = (m0 \ "last-updated-ms").extract[Long]
    val base = metaLog(t.location).size

    IcebergWriteBack.appendTo(spark, t.location,
      Seq((6L, "v6")).toDF("id", "v"))
    val log1 = metaLog(t.location)
    assert(log1.size === base + 1)
    assert(log1.last._2.endsWith(f0.getName) && log1.last._1 === ts0,
      s"the superseded file must join the tail with its own " +
        s"timestamp, got ${log1.last}")

    // metadata-only paths maintain the log the same way
    val f1 = IcebergImport.parseMeta(spark, t.location)._3
    IcebergWriteBack.createRef(spark, t.location, "keep", "tag")
    val log2 = metaLog(t.location)
    assert(log2.size === base + 2 && log2.last._2.endsWith(f1.getName))
    val f2 = IcebergImport.parseMeta(spark, t.location)._3
    IcebergWriteBack.upgradeFormatVersion(spark, t.location, 3)
    val log3 = metaLog(t.location)
    assert(log3.size === base + 3 && log3.last._2.endsWith(f2.getName))

    // chronological and unique
    assert(log3.map(_._1).sliding(2).forall(p =>
      p.size < 2 || p(0) <= p(1)))
    assert(log3.map(_._2).distinct.size === log3.size)
    assert(log3.size <= 100)
  }
}
