package graft.util

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** The delete applicator on small in-memory frames, no table: the
  * sequence gates at their boundaries, NULL keys under the caller's key
  * condition, one anti-join per key set, and the broadcast gate. */
class DeleteApplySpec extends SparkSpec {
  import spark.implicits._

  /** (file, pos, seq, k, j) data rows. */
  private def data(rows: (String, Long, Long, Option[Long], Long)*) =
    rows.toDF("file", "pos", "seq", "k", "j")

  private def keysDel(col0: String, rows: (Option[Long], Long)*): DataFrame =
    rows.toDF(s"d_$col0", DeleteApply.SeqCol)

  private def eq(del: DataFrame, c: String,
      op: (Column, Column) => Column = _ === _) =
    DeleteApply.Equality(del, 10L, (d, r) => op(d(c), r(s"d_$c")))

  private def apply(scan: DataFrame, equality: Seq[DeleteApply.Equality],
      positions: Option[DeleteApply.Positions] = None): DataFrame =
    DeleteApply(scan, "file", "pos", "seq", equality, positions)

  private def posOf(df: DataFrame): Set[Long] =
    df.select("pos").as[Long].collect().toSet

  private def antiJoins(df: DataFrame): Int =
    "LeftAnti".r.findAllIn(df.queryExecution.optimizedPlan.toString).size

  test("an equality delete hits rows of strictly older sequence only") {
    val scan = data(("f", 0L, 5L, Some(1L), 0L), ("f", 1L, 6L, Some(1L), 0L),
      ("f", 2L, 4L, Some(2L), 0L))
    // delete seq 6 on k=1: the seq-5 row goes, the seq-6 row (same
    // sequence as the delete) stays
    val out = apply(scan, Seq(eq(keysDel("k", (Some(1L), 6L)), "k")))
    assert(posOf(out) === Set(1L, 2L))
    assert(out.columns.toSeq === scan.columns.toSeq)
  }

  test("a position delete hits rows of the same or older sequence") {
    val scan = data(("a", 0L, 5L, None, 0L), ("a", 1L, 6L, None, 0L),
      ("b", 0L, 5L, None, 0L), ("b", 1L, 5L, None, 0L))
    // recorded names map to the scan's file column; `a#`'s delete at
    // seq 5 hits pos 0 (seq 5) but not pos 1 (seq 6, newer than it);
    // `b#`'s hits its pos 1; a name outside the scan drops out
    val rows = Seq(("a#", 0L, 5L), ("a#", 1L, 5L), ("b#", 1L, 5L),
      ("gone#", 0L, 9L)).toDF("file_path", "pos", DeleteApply.SeqCol)
    val out = apply(scan, Nil, Some(DeleteApply.Positions(rows, 10L,
      Seq("a#" -> "a", "b#" -> "b"))))
    assert(out.select("file", "pos").as[(String, Long)].collect().toSet ===
      Set(("a", 1L), ("b", 0L)))
  }

  test("NULL keys never match under ===, and match under <=>") {
    val scan = data(("f", 0L, 1L, None, 0L), ("f", 1L, 1L, Some(3L), 0L))
    val del = keysDel("k", (None, 2L), (Some(3L), 2L))
    assert(posOf(apply(scan, Seq(eq(del, "k")))) === Set(0L))
    assert(posOf(apply(scan, Seq(eq(del, "k", _ <=> _)))).isEmpty)
  }

  test("one anti-join per equality key set") {
    val scan = data(("f", 0L, 1L, Some(1L), 7L), ("f", 1L, 1L, Some(2L), 8L),
      ("f", 2L, 1L, Some(3L), 9L))
    // two sequences on one key set: one side, one anti-join
    val oneSet = apply(scan, Seq(eq(
      keysDel("k", (Some(1L), 2L)).unionByName(keysDel("k", (Some(2L), 3L))),
      "k")))
    assert(antiJoins(oneSet) === 1)
    assert(posOf(oneSet) === Set(2L))
    val twoSets = apply(scan, Seq(eq(keysDel("k", (Some(1L), 2L)), "k"),
      eq(keysDel("j", (Some(9L), 2L)), "j")))
    assert(antiJoins(twoSets) === 2)
    assert(posOf(twoSets) === Set(1L))
  }

  test("recorded delete bytes against the threshold choose broadcast " +
      "or shuffle") {
    val scan = spark.range(0, 200).select(lit("f").as("file"),
      col("id").as("pos"), lit(1L).as("seq"), col("id").as("k"))
    // a 1600-byte range side: the planner alone never broadcasts it
    // under a 100-byte threshold, so only the gate's hint can
    val del = spark.range(0, 200, 2).select(col("id").as("d_k"),
      lit(2L).as(DeleteApply.SeqCol))
    def run(bytes: Long): DataFrame = {
      val out = apply(scan, Seq(DeleteApply.Equality(del, bytes,
        (d, r) => d("k") === r("d_k"))))
      assert(out.collect().length === 100)
      out
    }
    val old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "100")
      val big = run(101L)
      assert(!big.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
      val small = run(99L)
      assert(small.queryExecution.executedPlan.toString
        .contains("BroadcastHashJoin"))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
  }

  test("scanUri renders the scan's percent-encoded file_path") {
    val dir = new java.io.File(tmpDir("scan-uri"), "a b")
    val file = new java.io.File(dir, "p=x%3A1").getPath
    Seq(1L).toDF("id").coalesce(1).write.parquet(file)
    val fs = new org.apache.hadoop.fs.Path(file)
      .getFileSystem(spark.sessionState.newHadoopConf())
    val scanned = spark.read.parquet(file)
      .select("_metadata.file_path").as[String].head()
    val name = scanned.substring(scanned.lastIndexOf('/') + 1)
    assert(DeleteApply.scanUri(fs,
      new org.apache.hadoop.fs.Path(s"$file/$name")) === scanned)
    assert(scanned.contains("a%20b/p=x%253A1/"))
  }

  test("a scanned file missing from the per-file info fails the query") {
    val scan = Seq(("f", 0L), ("g", 0L)).toDF("file", "pos")
    val info = Seq(("f", 3L)).toDF("file", "seq")
    val e = intercept[Exception](
      DeleteApply.withFileInfo(scan, info, "file", "seq").collect())
    assert(e.getMessage.contains("no data sequence for scanned file g"))
    assert(DeleteApply.withFileInfo(scan.filter($"file" === "f"), info,
      "file", "seq").as[(String, Long, Long)].collect() ===
      Array(("f", 0L, 3L)))
  }
}
