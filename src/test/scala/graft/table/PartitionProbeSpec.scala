package graft.table

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** A partitioned COW merge finds the partitions matched target rows live
  * in. When every candidate file lies in a partition the batch itself
  * writes, the batch's own partitions (collected with its keys) are the
  * answer and no probe job runs; a candidate outside them (a key moving
  * out of a partition the batch does not touch) still gets the probe. */
class PartitionProbeSpec extends SparkSpec {
  import spark.implicits._

  /** 100 keys over 4 partition values (p = id % 4), one file each. */
  private def table(name: String) = {
    val t = GraftTable(spark, tmpDir(name) + "/t")
    t.create(Seq((0L, 0L, "v", 0L)).toDF("id", "p", "v", "ts").schema,
      parts = Seq("p"))
    t.append((0L until 100L).map(i => (i, i % 4, s"v$i", 1L))
      .toDF("id", "p", "v", "ts"))
    assert(t.liveFiles().size === 4)
    t
  }

  test("a merge whose candidate files all lie in its own partitions " +
      "runs no partition probe") {
    val t = table("probe-covered")
    val jobs = jobsOf(t.merge((0L until 8L).map(i => (i, i % 4, "u", 2L))
      .toDF("id", "p", "v", "ts"), Seq("id"), Seq("id"), "ts"))
    // the key probe's capped collect (3 jobs) and the rewrite's staged
    // write (2); the partition probe would add 3 more
    assert(jobs.size === 5, jobs.mkString("\n"))
    val rows = t.read()
    assert(rows.count() === 100)
    assert(rows.filter(col("v") === "u").count() === 8)
  }

  test("a key moving out of a partition the batch does not write: the " +
      "probe runs, the old partition is rewritten, no key is duplicated") {
    val t = table("probe-moved")
    val before = t.liveFiles().toSet
    // key 5 lives in p=1; the batch writes it into p=3 only
    val jobs = jobsOf(t.merge(Seq((5L, 3L, "moved", 2L))
      .toDF("id", "p", "v", "ts"), Seq("id"), Seq("id"), "ts"))
    // key probe (3), partition probe (3), staged write (2)
    assert(jobs.size === 8, jobs.mkString("\n"))
    val rows = t.read()
    assert(rows.count() === 100)
    assert(rows.filter(col("id") === 5L).as[(Long, Long, String, Long)]
      .collect().toSeq === Seq((5L, 3L, "moved", 2L)))
    val gone = before -- t.liveFiles()
    assert(gone.map(f => GraftTable.partitionValues(f)("p")) ===
      Set("1", "3"))
  }
}
