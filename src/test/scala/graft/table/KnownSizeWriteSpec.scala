package graft.table

import graft.SparkSpec
import graft.pipeline.IncrementalRollup
import graft.streaming.Streaming

/** A write whose target side is empty (a first load, a merge of only new
  * keys, a first rollup round, a streamed micro-batch) carries a size the
  * optimizer can see, so the small-write coalesce applies to it like to
  * any other small batch: one file per partition value, not one per
  * write task per partition value. */
class KnownSizeWriteSpec extends SparkSpec {
  import spark.implicits._

  private val Values = 20

  /** 400 rows over `Values` partition values starting at `p0`, keys from
    * `k0`, appended in 8 batches (one file each, like a bronze table's),
    * so a scan of them runs 8 tasks. */
  private def source(name: String, k0: Long, p0: Int): GraftTable = {
    val t = GraftTable(spark, tmpDir(name) + "/t")
    (0 until 400).grouped(50).foreach(is =>
      t.append(is.map(i => (k0 + i, s"p${p0 + i % Values}", s"v$i", 1L))
        .toDF("id", "p", "v", "ts")))
    t
  }

  /** Live files per partition value of `t`'s partition column `p`. */
  private def filesPerValue(t: GraftTable): Map[String, Int] =
    t.liveFiles().groupBy(f => GraftTable.partitionValues(f)("p"))
      .map { case (v, fs) => v -> fs.size }

  private def partitioned(name: String) = {
    val t = GraftTable(spark, tmpDir(name) + "/t")
    t.create(Seq((0L, "p", "v", 0L)).toDF("id", "p", "v", "ts").schema,
      parts = Seq("p"))
  }

  test("the first COW merge into an empty partitioned table writes one " +
      "file per partition value") {
    val t = partitioned("ksw-first")
    val src = source("ksw-first-src", 0L, 0).read()
    val jobs = jobsOf(t.merge(src, Seq("id"), Seq("id"), "ts"))
    // the key probe (3 jobs) and one staged write: no live file is a
    // candidate, so no partition probe runs
    assert(jobs.size === 4, jobs.mkString("\n"))
    val per = filesPerValue(t)
    assert(per.size === Values)
    assert(per.values.toSet === Set(1))
    assert(t.read().count() === 400)
  }

  test("a COW merge of only new keys into new partitions writes one file " +
      "per new partition value") {
    val t = partitioned("ksw-new")
    t.merge(source("ksw-new-a", 0L, 0).read(), Seq("id"), Seq("id"),
      "ts")
    val before = t.liveFiles().toSet
    // keys above every live file's range: no live file is a candidate
    t.merge(source("ksw-new-b", 10000L, Values).read(), Seq("id"),
      Seq("id"), "ts")
    val added = t.liveFiles().filterNot(before)
    val per = added.groupBy(f => GraftTable.partitionValues(f)("p"))
    assert(per.keySet === (Values until 2 * Values).map(i => s"p$i").toSet)
    assert(per.values.map(_.size).toSet === Set(1))
    assert(t.liveFiles().toSet.intersect(before) === before)
    assert(t.read().count() === 800)
  }

  test("the first rollup round writes one gold file") {
    val src = source("ksw-roll-src", 0L, 0)
    val gold = GraftTable(spark, tmpDir("ksw-roll-gold") + "/t")
    IncrementalRollup.maintain(src, gold, Seq("p"), Seq("ts"), "ksw")
    assert(gold.liveFiles().size === 1)
    assert(gold.read().count() === Values)
  }

  test("a graft-source micro-batch into a partitioned graft table writes " +
      "one file per partition value") {
    val base = tmpDir("ksw-stream")
    val src = source("ksw-stream-src", 0L, 0)
    val dstLoc = s"$base/dst"
    val q = Streaming.graftSink(spark.readStream.format("graft")
        .load(src.location), dstLoc, "ksw", parts = Seq("p"))
      .option("checkpointLocation", s"$base/ckpt").start()
    try q.processAllAvailable() finally q.stop()
    val dst = GraftTable(spark, dstLoc)
    val per = filesPerValue(dst)
    assert(per.size === Values)
    assert(per.values.toSet === Set(1))
    assert(dst.read().count() === 400)
  }
}
