package graft.table

import org.apache.spark.sql.types._
import graft.SparkSpec

/** Chunked manifest metadata: the per-file payload of every commit lives
  * in its own manifest file, referenced by a slim O(1) snapshot record
  * (the Iceberg manifest / manifest-list shape). Planning a
  * partition-filtered read must parse ONLY the manifests whose
  * partition-value summary can match — asserted with the global
  * manifest-parse counter. */
class ManifestSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(name: String) = GraftTable(spark, tmpDir(name) + "/t")

  /** Manifest parses incurred by `body` on a cold metadata cache. */
  private def coldParses(body: => Unit): Long = {
    GraftTable.clearMetaCaches()
    val before = GraftTable.manifestParses.get()
    body
    GraftTable.manifestParses.get() - before
  }

  test("10k files across 100 commits: snapshot JSON stays O(1); " +
      "filtered planning parses only matching manifests") {
    // metadata-only scale drill: commit() records entries without
    // staging data, so the log reaches 10,000 files in seconds — the
    // asserts are about planning, which never opens a data file
    val t = freshTable("mf-scale")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType)))
    t.create(schema, parts = Seq("p"))
    (0 until 100).foreach { c =>
      val part = s"p${c % 10}"
      val files = (0 until 100).map(i => ManifestEntry(
        s"p=$part/part-$c-$i.parquet", "add",
        stats = Some(Map("id" -> ColStat(Some("0"), Some("99")))),
        rows = Some(100L)))
      t.commit("append", files, Seq.empty, _ => schema.json, Seq("p"))
    }
    assert(t.liveFiles().size === 10000)

    // (a) the snapshot record is O(1): 100 files + stats per commit, yet
    // every snapshot JSON stays small (file lists live in manifests)
    val metaDir = new java.io.File(t.location, "_graft")
    val snapSizes = metaDir.listFiles()
      .filter(_.getName.startsWith("snap-")).map(_.length)
    assert(snapSizes.length === 101) // create + 100 appends
    assert(snapSizes.max < 4096,
      s"snapshot JSON grew with file count: max ${snapSizes.max}B")
    // ...and the manifests are where the payload went
    assert(metaDir.listFiles().count(_.getName.startsWith("manifest-")) === 100)

    // (b) planning a partition-filtered read parses ONLY the 10 manifests
    // whose summary covers p3 — not all 100
    var filtered: Seq[String] = Seq.empty
    val parsedFiltered = coldParses {
      filtered = t.liveFilesWhere(Map("p" -> Set("p3")))
    }
    assert(filtered.size === 1000)
    assert(filtered.forall(_.startsWith("p=p3/")))
    assert(parsedFiltered === 10,
      s"filtered planning parsed $parsedFiltered manifests, want 10")

    // full resolution parses each manifest exactly once (then cached)
    val parsedFull = coldParses { t.liveFiles() }
    assert(parsedFull === 100)
    val parsedWarm = { val b = GraftTable.manifestParses.get()
      t.liveFiles(); GraftTable.manifestParses.get() - b }
    assert(parsedWarm === 0) // cache: repeated resolution parses nothing

    // stats/rows round-trip through the manifests
    val someFile = filtered.head
    assert(t.statsFor(Seq(someFile))(someFile)("id").max === Some("99"))
    assert(t.rowsFor(Seq(someFile))(someFile) === 100L)
    // metadata views never parse a manifest (counts ride the slim ref)
    val parsedMeta = coldParses { t.metaSnapshots.collect() }
    assert(parsedMeta === 0)
  }

  test("manifest skipping stays correct across partition-local rewrites") {
    val t = freshTable("mf-rewrite")
    t.append(Seq((1L, "x1", 1L, "a"), (2L, "x2", 1L, "b"))
      .toDF("id", "v", "ts", "p"), parts = Seq("p"))
    t.append(Seq((3L, "x3", 1L, "a"), (4L, "x4", 1L, "b"))
      .toDF("id", "v", "ts", "p"), parts = Seq("p"))
    // COW merge rewrites ONLY partition a
    t.merge(Seq((1L, "upd", 2L, "a")).toDF("id", "v", "ts", "p"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "ts")
    // a partition-b plan may skip the merge's manifest (summary = {a});
    // result must still be exactly partition b's live state
    val bRows = t.readPruned(Map("p" -> Set("b")))
      .orderBy("id").select("id", "v").as[(Long, String)].collect()
    assert(bRows === Array((2L, "x2"), (4L, "x4")))
    val aRows = t.readPruned(Map("p" -> Set("a")))
      .orderBy("id").select("id", "v").as[(Long, String)].collect()
    assert(aRows === Array((1L, "upd"), (3L, "x3")))
    // and the skip actually happened: planning partition b parses fewer
    // manifests than the chain holds
    val total = t.snapshots.count(_.manifest.isDefined)
    val parsedB = coldParses { t.liveFilesWhere(Map("p" -> Set("b"))) }
    assert(parsedB < total, s"parsed $parsedB of $total — nothing skipped")
  }

  test("rewriteManifests: resolution replays O(manifests since rewrite)") {
    val t = freshTable("mf-rewrite-manifests")
    val schema = StructType(Seq(
      StructField("id", LongType), StructField("p", StringType)))
    t.create(schema, parts = Seq("p"))
    (0 until 60).foreach { c =>
      val files = (0 until 5).map(i => ManifestEntry(
        s"p=p${c % 6}/part-$c-$i.parquet", "add",
        stats = Some(Map("id" -> ColStat(Some("0"), Some("9")))),
        rows = Some(10L), bytes = Some(1000L)))
      t.commit("append", files, Seq.empty, _ => schema.json, Seq("p"))
    }
    val preRewriteTip = t.latestSnapshotId.get
    assert(coldParses { t.liveFiles() } === 60)
    t.rewriteManifests()
    // ONE manifest now answers current-state resolution
    assert(coldParses { t.liveFiles() } === 1)
    assert(t.liveFiles().size === 300)
    // stats/rows/sizes/seqs all travel into the base manifest
    val f0 = t.liveFiles().head
    assert(t.statsFor(Seq(f0))(f0)("id").max === Some("9"))
    assert(t.rowsFor(Seq(f0))(f0) === 10L)
    assert(t.bytesFor(Seq(f0))(f0) === 1000L)
    // subsequent commits add their own manifests on top of the base
    (0 until 2).foreach { c =>
      val files = Seq(ManifestEntry(s"p=p9/part-post-$c.parquet", "add",
        rows = Some(1L)))
      t.commit("append", files, Seq.empty, _ => schema.json, Seq("p"))
    }
    assert(coldParses { t.liveFiles() } === 3) // base + 2
    assert(t.liveFiles().size === 302)
    // history preserved: time travel BELOW the rewrite replays the old
    // chain (and parses its manifests)
    val preParses = coldParses {
      assert(t.liveFiles(Some(preRewriteTip)).size === 300)
    }
    assert(preParses === 60)
    // incremental scans refuse to cross the rewrite, like any rewrite op
    intercept[IllegalArgumentException] {
      t.incrementalFiles(preRewriteTip, t.latestSnapshotId.get)
    }
  }

  test("rewriteManifests keeps MOR tombstones applying to old files") {
    val t = freshTable("mf-rw-mor")
    t.append(Seq((1L, "a", 1L), (2L, "b", 1L)).toDF("id", "v", "ts"))
    t.merge(Seq((2L, "b2", 2L), (3L, "c", 2L)).toDF("id", "v", "ts"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "ts", mode = "mor")
    t.rewriteManifests()
    // the base carries data files with ORIGINAL sequences and tombstones
    // with ORIGINAL sequences — the update must not resurrect
    val out = t.read().orderBy("id").select("id", "v")
      .as[(Long, String)].collect()
    assert(out === Array((1L, "a"), (2L, "b2"), (3L, "c")))
    // and compaction afterwards still folds tombstones away
    t.compact(filesPerPartition = 1)
    assert(t.read().count() === 3)
  }

  test("expire folds absorbed history into a baseline manifest") {
    val t = freshTable("mf-expire")
    t.append(Seq((1L, "a")).toDF("id", "v"))
    t.append(Seq((2L, "b")).toDF("id", "v"))
    t.append(Seq((3L, "c")).toDF("id", "v"))
    val manifestsBefore = new java.io.File(t.location, "_graft")
      .listFiles().count(_.getName.startsWith("manifest-"))
    assert(manifestsBefore === 3)
    t.expireSnapshots(keepLast = 2)
    // expired manifests are swept; the baseline got a fresh one
    val metaDir = new java.io.File(t.location, "_graft")
    assert(metaDir.listFiles().count(_.getName.startsWith("manifest-")) === 2)
    // stats/rows/data all survive through the baseline manifest
    val live = t.liveFiles()
    assert(t.statsFor(live).size === live.size)
    assert(t.rowsFor(live).values.sum === 3L)
    assert(t.read().select("id").as[Long].collect().sorted === Array(1L, 2L, 3L))
  }
}
