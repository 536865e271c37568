package graft.table

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** A written file travels as one [[ManifestEntry]] from its staging to
  * every commit that carries it: each writer leaves every live file with
  * its row count, on-disk size and column bounds recorded, and the
  * commits that carry files without rewriting them (rewrite-manifests,
  * rollback, the expire baseline) keep the whole entry. */
class ManifestEntrySpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String) = GraftTable(spark, tmpDir(name) + "/t")

  /** Every live file of `t` has rows, bytes and an `id` min/max. */
  private def assertRecorded(t: GraftTable, writer: String): Unit = {
    val live = t.liveFiles()
    assert(live.nonEmpty, s"$writer: no live files")
    val rows = t.rowsFor(live)
    val bytes = t.bytesFor(live)
    val stats = t.statsFor(live)
    live.foreach { f =>
      assert(rows.contains(f), s"$writer: no row count for $f")
      assert(bytes.contains(f), s"$writer: no size for $f")
      assert(stats.get(f).flatMap(_.get("id"))
        .exists(s => s.min.isDefined && s.max.isDefined),
        s"$writer: no id bounds for $f")
    }
  }

  /** Files the executed scan of `df` read (unwraps AQE). */
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

  private def rows(ids: Seq[Long], v: String) =
    ids.map(i => (i, s"$v$i", 1L)).toDF("id", "v", "ts")

  test("rollback across a base re-adds files with their whole entries") {
    val t = freshTable("me-rollback")
    t.append(rows(1L to 50L, "a").coalesce(1))
    val s1 = t.latestSnapshotId.get
    val file = t.liveFiles().head
    t.append(rows(51L to 60L, "b").coalesce(1))
    t.compact()
    t.rewriteManifests()
    t.rollback(s1)
    assert(t.liveFiles() === Seq(file))
    assert(t.rowsFor(Seq(file)) === Map(file -> 50L))
    val id = t.statsFor(Seq(file)).get(file).flatMap(_.get("id"))
    assert(id.map(s => (s.min, s.max)) === Some((Some("1"), Some("50"))))
    // the bounds prune the re-added file again
    assert(scannedFiles(spark.read.format("graft").load(t.location)
      .filter($"id" === 999L)) === 0)
    assert(t.read().count() === 50)
  }

  test("every writer records rows, bytes and bounds for every live file") {
    val t = freshTable("me-writers")
    t.append(rows(1L to 20L, "a"))
    assertRecorded(t, "append")
    t.publishPending(t.stagePending(rows(21L to 30L, "p")))
    assertRecorded(t, "stagePending+publishPending")
    t.overwrite(rows(1L to 40L, "o"))
    assertRecorded(t, "overwrite")
    t.merge(rows(Seq(5L, 100L), "m"), Seq("id"), Seq("id"), "ts")
    assertRecorded(t, "COW merge")
    val beforeMor = t.latestSnapshotId.get
    t.merge(rows(Seq(6L, 101L), "r"), Seq("id"), Seq("id"), "ts",
      mode = "mor")
    assertRecorded(t, "MOR merge")
    t.delete($"id" === 7L)
    assertRecorded(t, "delete")
    t.update(Map("v" -> lit("u")), Some($"id" === 8L))
    assertRecorded(t, "COW update")
    t.updatePositions(Map("v" -> lit("w")), Some($"id" === 9L))
    assertRecorded(t, "MOR update")
    t.foldDeletes()
    assertRecorded(t, "foldDeletes")
    t.compact()
    assertRecorded(t, "compact")
    t.compactToSize(targetFileBytes = 1L << 20)
    assertRecorded(t, "compactToSize")
    t.append(rows(Seq(200L), "s"))
    t.append(rows(Seq(201L), "s"))
    assert(t.compactSmallFiles().isDefined)
    assertRecorded(t, "compactSmallFiles")
    t.compactZOrder(Seq("id", "ts"))
    assertRecorded(t, "compactZOrder")
    t.rewriteManifests()
    assertRecorded(t, "rewriteManifests")
    // the MOR merge's files were added before the rewrite-manifests base
    t.rollback(beforeMor)
    assertRecorded(t, "rollback")
    t.append(rows(Seq(300L), "e"))
    t.expireSnapshots(keepLast = 2)
    assertRecorded(t, "expireSnapshots")
    assert(t.read().count() === t.rowsFor(t.liveFiles()).values.sum)

    // a legacy (field-id-less) table, rewritten with ids
    val legacy = GraftTable(spark, tmpDir("me-retrofit") + "/t")
    new java.io.File(legacy.location, "_graft").mkdirs()
    val plain = StructType(Seq(StructField("id", LongType),
      StructField("v", StringType), StructField("ts", LongType)))
    legacy.commit("create", Seq.empty, Seq.empty, _ => plain.json, Seq.empty)
    legacy.append(rows(1L to 3L, "l").coalesce(1))
    legacy.retrofitFieldIds()
    assert(legacy.snapshots.last.operation === "retrofit")
    assertRecorded(legacy, "retrofitFieldIds")
  }

  test("a pre-manifest snapshot is refused by name; empty legacy arrays " +
      "still read") {
    val t = freshTable("me-legacy")
    t.append(rows(1L to 3L, "a"))
    // manifest-era snapshots carrying empty inline arrays read normally
    LegacyTombstone(t, "cols")
    GraftTable.clearMetaCaches()
    val n = t.snapshots.size
    assert(t.liveFiles().nonEmpty)

    val id = t.latestSnapshotId.get + 1
    val name = f"snap-$id%08d.json"
    val schemaJson = t.schema.json.replace("\"", "\\\"")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t.location, "_graft", name),
      s"""{"snapshotId": $id, "parentId": ${id - 1}, "timestampMs": 0,
         | "operation": "append", "addedFiles": ["f.parquet"],
         | "removedFiles": [], "schemaJson": "$schemaJson",
         | "partitionCols": []}""".stripMargin)
    GraftTable.clearMetaCaches()
    val e = intercept[IllegalStateException](t.liveFiles())
    assert(e.getMessage.contains(t.location) && e.getMessage.contains(name),
      e.getMessage)
    assert(n === id)
  }
}
