package graft.table

import java.io.File

import graft.{CountFs, SparkSpec}
import graft.iceberg.{IcebergExport, IcebergWriteBack}

/** One publish path for staged files ([[Staging]]), pinned on
  * [[CountFs]] for every operation that stages parquet: each file an
  * operation adds to the table tree lands there by exactly one rename,
  * no operation lists with `listFiles` (a `listLocatedStatus` per
  * directory, and on `file:` a forked `stat` per file), and no stage
  * directory (`stage-*`, `stage-del-*`, `.tmp-pos-*`) outlives its
  * operation. Partition values are percent-encoded on disk (`x%3A1`)
  * or hold a space, and every table sits under `t dir`, so the
  * walk's relative paths are exercised too. */
class StagedPublishSpec extends SparkSpec {
  import spark.implicits._

  CountFs.install(spark.sparkContext.hadoopConfiguration)

  private def tree(f: File): Seq[File] =
    f +: Option(f.listFiles()).toSeq.flatten.flatMap(tree)

  private def parquet(root: File): Set[String] = tree(root)
    .filter(_.getName.endsWith(".parquet")).map(_.getPath).toSet

  /** A partitioned table on `countfs:`, and its local root. */
  private def table(name: String): (GraftTable, File) = {
    val root = new File(tmpDir(name), "t dir")
    val t = GraftTable(spark, s"${CountFs.Scheme}://${root.getPath}")
    t.append(Seq((1L, "a", 1L, "x:1"), (2L, "b", 1L, "y 2"),
      (3L, "c", 1L, "z")).toDF("id", "v", "ts", "part"),
      parts = Seq("part"))
    (t, root)
  }

  /** Run `op` and check the publish contract; returns the table-relative
    * parquet files it added. */
  private def published(root: File)(op: => Any): Set[String] = {
    val before = parquet(root)
    CountFs.reset()
    op
    val added = parquet(root) -- before
    val renames = CountFs.count("rename")
    assert(added.nonEmpty, "the operation published no file")
    val notOnce = added.filterNot(f => renames.get(f).contains(1L))
    assert(notOnce.isEmpty, s"not renamed into place exactly once: " +
      notOnce.map(f => f -> renames.getOrElse(f, 0L)).mkString(", "))
    assert(CountFs.count("locatedList").isEmpty,
      s"listed by listLocatedStatus: ${CountFs.count("locatedList")}")
    val left = tree(root).filter(f => f.getName.startsWith("stage-") ||
      f.getName.startsWith(".tmp-pos-"))
    assert(left.isEmpty, s"stage directories left behind: $left")
    added.map(_.stripPrefix(root.getPath + "/"))
  }

  test("an append and a COW merge publish each staged file by one rename") {
    val (t, root) = table("publish-cow")
    val appended = published(root)(t.append(Seq((4L, "d", 1L, "x:1"),
      (5L, "e", 1L, "y 2")).toDF("id", "v", "ts", "part")))
    assert(appended.map(_.takeWhile(_ != '/')) ===
      Set("part=x%3A1", "part=y 2"))
    published(root)(t.merge(Seq((2L, "b2", 2L, "y 2"))
      .toDF("id", "v", "ts", "part"), Seq("id"), Seq("id"), "ts"))
    assert(t.read().select("id", "v").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b2"), (3L, "c"), (4L, "d"), (5L, "e")))
  }

  test("a MOR merge publishes its tombstones and data files by one " +
      "rename each") {
    val (t, root) = table("publish-mor")
    val added = published(root)(t.merge(Seq((2L, "b2", 2L, "y 2"),
      (9L, "new", 2L, "x:1")).toDF("id", "v", "ts", "part"),
      Seq("id"), Seq("id"), "ts", mode = "mor"))
    assert(added.count(_.startsWith("_deletes/del-")) === 1)
    assert(added.exists(_.startsWith("part=")))
    assert(t.read().select("id", "v").as[(Long, String)].collect().toSet ===
      Set((1L, "a"), (2L, "b2"), (3L, "c"), (9L, "new")))
  }

  test("an Iceberg export and a write-back append publish by one rename " +
      "and list without listLocatedStatus") {
    val (t, root) = table("publish-ice")
    t.deletePositions($"id" === 1L)
    assert(t.liveDeletes().count(_.isPosition) === 1)
    val converted = published(root)(IcebergExport.export(spark, t))
    assert(converted.size === 1 &&
      converted.head.startsWith("metadata/pos-del-"))
    val appended = published(root)(IcebergWriteBack.appendTo(spark,
      t.location, Seq((7L, "g", 3L, "x:1")).toDF("id", "v", "ts", "part")))
    assert(appended.forall(_.startsWith("data/graft-append-")))
    assert(graft.iceberg.IcebergImport.read(spark, t.location)
      .select("id").as[Long].collect().sorted === Array(2L, 3L, 7L))
  }
}
