package graft.pipeline

import graft.SparkSpec
import graft.table.GraftTable

/** The rollup's null-key and DECIMAL-overflow guards are observed in the
  * pass that checkpoints the delta: a round launches no job of its own
  * for them (IncrementalRollupSpec pins that both still fail loud). */
class RollupGuardSpec extends SparkSpec {
  import spark.implicits._

  test("a maintenance round's guards launch no job of their own") {
    val base = tmpDir("guard-jobs")
    val src = GraftTable(spark, s"$base/src")
    val dst = GraftTable(spark, s"$base/dst")
    src.append(Seq(("a", 1L, 10L), ("b", 2L, 20L)).toDF("g", "id", "v"))
    IncrementalRollup.maintain(src, dst, Seq("g"), Seq("v"), "x")
    src.append(Seq(("a", 3L, 5L), ("c", 4L, 7L)).toDF("g", "id", "v"))
    val jobs = jobsOf(
      IncrementalRollup.maintain(src, dst, Seq("g"), Seq("v"), "x"))
    // the delta's checkpoint (2 jobs), then gold's key probes and merge
    // (8); a separate guard aggregate would add 2 more
    assert(jobs.size === 10, jobs.mkString("\n"))
    assert(dst.read().select("g", "v_sum", "n").orderBy("g")
      .as[(String, Long, Long)].collect().toSeq ===
      Seq(("a", 15L, 2L), ("b", 20L, 1L), ("c", 7L, 1L)))
  }
}
