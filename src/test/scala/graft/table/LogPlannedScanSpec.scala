package graft.table

import graft.SparkSpec
import graft.iceberg.{IcebergExport, IcebergImport}

/** Scans of files the log describes (tombstones, foreign data and
  * delete files) plan from the recorded paths, sizes and schemas: a
  * merge-on-read plan launches no schema-inference or file-listing job,
  * however many tombstone sequences or data files it covers. */
class LogPlannedScanSpec extends SparkSpec {
  import spark.implicits._

  /** 50 rows in one file, then `merges` one-row MOR merges: one
    * tombstone per merge, each at its own sequence. */
  private def morTable(name: String, merges: Int) = {
    val t = GraftTable(spark, tmpDir(name) + "/t")
    t.append((1L to 50L).map(i => (i, s"v$i", 1L)).toDF("id", "v", "ts")
      .coalesce(1))
    (1 to merges).foreach { i =>
      t.merge(Seq((i.toLong, s"u$i", i + 1L)).toDF("id", "v", "ts"),
        Seq("id"), Seq("id"), "ts", mode = "mor")
    }
    t
  }

  test("planning a MOR read with tombstones at 3 sequences launches no job") {
    val t = morTable("plan-read", 3)
    assert(t.liveDeletes().map(_.seq).distinct.size === 3)
    assert(jobsOf(t.read().queryExecution.executedPlan) === Nil)
    assert(t.read().filter($"id" <= 3L).orderBy("id").select("v")
      .as[String].collect() === Array("u1", "u2", "u3"))
  }

  test("planning a changelog over two MOR commits launches only its " +
      "tombstone key probes") {
    val t = morTable("plan-changes", 2)
    val start = t.snapshots.head.snapshotId
    // the pre-image pruning reads each commit's tombstone keys (a data
    // read, not planning); nothing else runs a job
    val sites = jobsOf(
      t.changes(start, t.latestSnapshotId.get).queryExecution.executedPlan)
    assert(sites.filterNot(_.startsWith("collect at MergeInto.scala")) === Nil)
    assert(sites.size <= 2)
    val deleted = t.changes(start, t.latestSnapshotId.get)
      .filter($"_change_type" === "delete").select("id", "v")
      .as[(Long, String)].collect().sorted
    assert(deleted === Array((1L, "v1"), (2L, "v2")))
  }

  test("planning an Iceberg read of an exported MOR table with more " +
      "than 32 data files launches no job") {
    val t = GraftTable(spark, tmpDir("plan-ice") + "/t")
    // one file per partition: 40 data files, past Spark's parallel
    // listing threshold (32 paths)
    t.append((1L to 80L).map(i => (i, s"v$i", i % 40)).toDF("id", "v", "p"),
      parts = Seq("p"))
    t.merge(Seq((5L, "u5", 5L)).toDF("id", "v", "p"),
      Seq("id"), Seq("id"), "id", mode = "mor")
    t.deletePositions($"id" === 7L)
    assert(t.liveFiles().size > 32)
    assert(t.liveDeletes().exists(_.isPosition) &&
      t.liveDeletes().exists(!_.isPosition))
    IcebergExport.export(spark, t)
    assert(jobsOf(
      IcebergImport.read(spark, t.location).queryExecution.executedPlan)
      === Nil)
    assert(IcebergImport.read(spark, t.location).orderBy("id").collect() ===
      t.read().orderBy("id").select("id", "v", "p").collect())
  }
}
