package graft.table

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.LongType

import graft.{CountFs, SparkSpec}

/** One resolution of the snapshot log per operation ([[TableState]]),
  * pinned on [[CountFs]], where every listing, status and open is a
  * round trip an object store would charge for: a read — planned AND
  * executed — lists `_graft` once, a commit lists it once per publish
  * attempt (its first attempt reuses the operation's own listing), no
  * manifest is ever stat'd, and a cold replay opens each manifest at
  * most once. */
class MetadataResolutionSpec extends SparkSpec {
  import spark.implicits._

  CountFs.install(spark.sparkContext.hadoopConfiguration)

  private def table(name: String): GraftTable =
    GraftTable(spark, s"${CountFs.Scheme}://${tmpDir(name)}/t")

  /** Run `body` on cold metadata caches; return the listings of `t`'s
    * `_graft` it made and its result, after asserting that it stat'd no
    * manifest and opened none twice. */
  private def listings[T](t: GraftTable)(body: => T): (Long, T) = {
    GraftTable.clearMetaCaches()
    CountFs.reset()
    val out = body
    val meta = new org.apache.hadoop.fs.Path(t.location, "_graft")
      .toUri.getPath
    def manifests(op: String) = CountFs.count(op)
      .filter(_._1.startsWith(s"$meta/manifest-"))
    assert(manifests("status").isEmpty,
      s"manifests stat'd: ${manifests("status")}")
    assert(manifests("open").values.forall(_ <= 1),
      s"manifests opened more than once: ${manifests("open")}")
    (CountFs.count("list").getOrElse(meta, 0L), out)
  }

  /** The (id, v) rows `df` reads, and the listings its plan and
    * execution made. */
  private def read(t: GraftTable)(df: => DataFrame)
      : (Long, Set[(Long, String)]) =
    listings(t)(df.select("id", "v").as[(Long, String)].collect().toSet)

  test("a read lists _graft once, planning and execution included") {
    val t = table("meta-read")
    (0 until 3).foreach(b => t.append((b * 10L + 1 to b * 10L + 10)
      .map(i => (i, s"v$i")).toDF("id", "v")))
    val s0 = t.latestSnapshotId.get
    t.merge(Seq((3L, "u3"), (41L, "v41")).toDF("id", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id")
    t.append(Seq((50L, "v50")).toDF("id", "v"))
    val tip = t.latestSnapshotId.get
    assert(t.snapshots.size === 6) // create + 5 commits

    val (n0, r0) = read(t)(t.read().filter($"id" === 3L))
    assert(n0 === 1 && r0 === Set((3L, "u3")))
    val (n1, r1) = read(t)(t.readAsOf(s0).filter($"id" === 3L))
    assert(n1 === 1 && r1 === Set((3L, "v3")))
    // two pushed conjuncts, each checked against every file's stats
    val (n2, r2) = read(t)(spark.read.format("graft").load(t.location)
      .filter($"id" > 2L && $"v" =!= "v4"))
    assert(n2 === 1 && r2.size === 29 && r2((3L, "u3")) && !r2((4L, "v4")))
    val (n3, r3) = read(t)(t.changes(s0, tip))
    assert(n3 === 1 &&
      r3 === Set((3L, "u3"), (3L, "v3"), (41L, "v41"), (50L, "v50")))

    t.createBranch("b")
    t.branch("b").append(Seq((60L, "v60")).toDF("id", "v"))
    val (n4, r4) = read(t)(t.readBranch("b").filter($"id" >= 50L))
    assert(n4 === 1 && r4 === Set((50L, "v50"), (60L, "v60")))
  }

  test("a commit lists _graft once per publish attempt") {
    val t = table("meta-commit")
    t.append((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    assert(listings(t)(t.append(Seq((21L, "v21")).toDF("id", "v")))._1 === 1)
    assert(listings(t)(t.merge(Seq((2L, "u2")).toDF("id", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id"))._1 === 1)
    assert(listings(t)(t.merge(Seq((5L, "u5"), (22L, "v22")).toDF("id", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id",
      mode = "mor"))._1 === 1)
    // the MOR read applies the tombstone and still lists once
    val (n, r) = read(t)(t.read().filter($"id" <= 5L))
    assert(n === 1 && r === Set((1L, "v1"), (2L, "u2"), (3L, "v3"),
      (4L, "v4"), (5L, "u5")))
  }

  test("time travel and changelog across a widen type literals and keys " +
      "with the as-of schema") {
    val t = GraftTable(spark, tmpDir("meta-widen") + "/t")
    t.append((1 to 5).map(i => (i, s"v$i")).toDF("id", "v"))
    val s0 = t.latestSnapshotId.get
    t.merge(Seq((3, "u3")).toDF("id", "v"), keys = Seq("id"),
      dedupKey = Seq("id"), orderCol = "id", mode = "mor")
    val s1 = t.latestSnapshotId.get
    t.widenColumn("id", LongType)
    assert(t.readAsOf(s0).filter($"id" === 3).select("v").as[String]
      .collect() === Array("v3"))
    assert(spark.read.format("graft").option("snapshotId", s0)
      .load(t.location).filter($"id" === 3).select("v").as[String]
      .collect() === Array("v3"))
    // the MOR pre-image is pruned by the tombstone keys, typed as at s0
    assert(t.changes(s0, s1).select("v", "_change_type").as[(String, String)]
      .collect().toSet === Set(("v3", "delete"), ("u3", "insert")))
  }
}
