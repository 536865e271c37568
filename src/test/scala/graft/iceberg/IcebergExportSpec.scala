package graft.iceberg

import java.nio.file.{Files, Paths}

import scala.sys.process._

import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.table.GraftTable

/** Iceberg v2 metadata export: the metadata tree round-trips through an
  * independent in-engine walk ([[IcebergExport.scan]]) AND through an
  * external engine — the DuckDB hand-walk reader
  * (tools/read_iceberg_duckdb.py), which decodes the Avro manifests with
  * its own object-container decoder and scans the data files with
  * DuckDB's parquet reader. That pair is the reference's multi-engine
  * readback contract (/root/reference/README.md:127-197) run for real:
  * same table bytes, two engines, identical answers. */
class IcebergExportSpec extends SparkSpec {
  import spark.implicits._

  private def mkTable(name: String, n: Long = 100L): GraftTable = {
    val t = GraftTable(spark, tmpDir(name) + "/t")
    t.append((1L to n).map(i => (i, s"v$i", i * 10L)).toDF("id", "v", "ts")
      .coalesce(2))
    t
  }

  test("NESTED types export: struct + list + map columns round-trip " +
      "through the foreign importer, ids persisted at every depth and " +
      "STABLE across re-exports") {
    import org.json4s._
    implicit val fmts: Formats = DefaultFormats
    val t = GraftTable(spark, tmpDir("ice-nested-exp") + "/t")
    def frame(lo: Long, hi: Long) = (lo to hi).map(i => (i,
        (i * 2, s"s$i"), Seq(i, i * 10),
        Map("a" -> i, "b" -> i * 100)))
      .toDF("id", "st", "xs", "m")
    t.append(frame(1L, 20L))
    val metaPath = IcebergExport.export(spark, t)
    val meta = org.json4s.jackson.JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(metaPath.stripPrefix("file:")))))
    val fields = (meta \ "schemas").children.head \ "fields"
    def field(n: String): JValue =
      fields.children.find(f => (f \ "name").extract[String] == n).get
    // struct leaves carry ids; list has element-id; map key-id/value-id
    val stInner = (field("st") \ "type" \ "fields").children
    assert(stInner.size === 2 &&
      stInner.forall(f => (f \ "id").extractOpt[Long].isDefined))
    val elemId = (field("xs") \ "type" \ "element-id").extract[Long]
    val keyId = (field("m") \ "type" \ "key-id").extract[Long]
    val valId = (field("m") \ "type" \ "value-id").extract[Long]
    // every id distinct, last-column-id covers them all
    val allIds = fields.children.map(f => (f \ "id").extract[Long]) ++
      stInner.map(f => (f \ "id").extract[Long]) ++
      Seq(elemId, keyId, valId)
    assert(allIds.distinct.size === allIds.size, s"dup ids: $allIds")
    assert((meta \ "last-column-id").extract[Long] === allIds.max)
    // the foreign importer reads it back EXACTLY (footers carry the
    // same nested ids, so this is the id-resolved path)
    val back = IcebergImport.read(spark, t.location)
    assert(back.orderBy("id").collect() ===
      t.read().orderBy("id").select("id", "st", "xs", "m").collect())
    // EXTERNAL engine: the DuckDB hand-walk decodes the nested export
    // too — struct leaf predicate and list element aggregate (the
    // multi-engine loop closed for nested types)
    val extPath = new java.net.URI("file://" + t.location).getPath
    val extCnt = Seq("python3", "tools/read_iceberg_duckdb.py", extPath,
      "SELECT COUNT(*) AS n FROM t WHERE st._1 > 20").!!
    assert(extCnt.trim.split("\n").last === "10", extCnt)
    val extSum = Seq("python3", "tools/read_iceberg_duckdb.py", extPath,
      "SELECT CAST(SUM(xs[2]) AS BIGINT) AS s FROM t").!!
    assert(extSum.trim.split("\n").last === "2100", extSum)
    // ids are STABLE across a re-export after more commits (an
    // external incremental reader must never see an id change)
    t.append(frame(21L, 30L))
    val meta2 = org.json4s.jackson.JsonMethods.parse(new String(
      Files.readAllBytes(Paths.get(
        IcebergExport.export(spark, t).stripPrefix("file:")))))
    val f2 = (meta2 \ "schemas").children.head \ "fields"
    def field2(n: String): JValue =
      f2.children.find(f => (f \ "name").extract[String] == n).get
    assert((field2("xs") \ "type" \ "element-id").extract[Long] === elemId)
    assert((field2("m") \ "type" \ "key-id").extract[Long] === keyId)
    assert((field2("m") \ "type" \ "value-id").extract[Long] === valId)
    val back2 = IcebergImport.read(spark, t.location)
    assert(back2.count() === 30L)
  }

  test("nested export refusals: a top-level-id'd schema with un-stamped " +
      "nested parts refuses loud (footers would not match); fully " +
      "id-less schemas allocate deterministic DFS ids") {
    import org.apache.spark.sql.types._
    import graft.table.FieldIds
    def meta(id: Long) = new MetadataBuilder()
      .putLong(FieldIds.GraftKey, id)
      .putLong(FieldIds.ParquetKey, id).build()
    // top-level ids present, nested struct leaf un-id'd → refuse
    val mixed = StructType(Seq(
      StructField("id", LongType, nullable = true, meta(1)),
      StructField("st", StructType(Seq(
        StructField("x", LongType))), nullable = true, meta(2))))
    val e = intercept[IllegalArgumentException](
      IcebergExport.schemaJsonWithLast(mixed))
    assert(e.getMessage.contains("st.x") &&
      e.getMessage.contains("retrofitFieldIds"), e.getMessage)
    assert(!FieldIds.fullyStamped(mixed))
    // a top-level-id'd LIST without a persisted element id → refuse
    val mixedList = StructType(Seq(
      StructField("id", LongType, nullable = true, meta(1)),
      StructField("xs", ArrayType(LongType), nullable = true, meta(2))))
    val e2 = intercept[IllegalArgumentException](
      IcebergExport.schemaJsonWithLast(mixedList))
    assert(e2.getMessage.contains("xs") &&
      e2.getMessage.contains("element"), e2.getMessage)
    // fully id-less: ordinal+1 top level, nested DFS after — and the
    // allocation is deterministic (same schema → same JSON)
    val legacy = StructType(Seq(
      StructField("id", LongType),
      StructField("xs", ArrayType(LongType)),
      StructField("m", MapType(StringType, LongType))))
    val (j1, last1) = IcebergExport.schemaJsonWithLast(legacy)
    val (j2, last2) = IcebergExport.schemaJsonWithLast(legacy)
    assert(j1 === j2 && last1 === last2)
    assert(last1 === 6L) // 3 top-level + element + key + value
    // assign completes nested stamping and fullyStamped flips true
    assert(FieldIds.fullyStamped(FieldIds.assign(mixed)))
    assert(FieldIds.fullyStamped(FieldIds.assign(legacy)))
    // assign's floor keeps fresh nested ids ABOVE history: a dropped
    // column's id (here 7) must never resurrect as a nested leaf's —
    // the retrofit path passes maxId over every historical schema
    val completed = FieldIds.assign(mixed, floor = 7L)
    val leafIds = completed.fields.flatMap(FieldIds.deepIds)
    assert(leafIds.forall(id => id <= 2L || id > 7L),
      s"an id in (2, 7] resurrects a dropped column's: $leafIds")
    assert(FieldIds.fullyStamped(completed))
  }

  test("export writes the v2 metadata tree and scan() reads it back") {
    val t = mkTable("ice-rt")
    val metaPath = IcebergExport.export(spark, t)
    assert(metaPath.endsWith("v1.metadata.json"))
    val metaDir = Paths.get(new java.net.URI(
      "file://" + t.location).getPath, "metadata")
    assert(Files.exists(metaDir.resolve("version-hint.text")))
    assert(Files.list(metaDir).toArray.map(_.toString)
      .count(_.endsWith(".avro")) === 2) // manifest list + manifest
    val back = IcebergExport.scan(spark, t.location)
    assert(back.orderBy("id").collect() ===
      t.read().orderBy("id").collect())
  }

  test("history export: external engines time-travel the export by " +
      "snapshot id and tag ref") {
    val t = mkTable("ice-hist", 10L) // snapshot 1 (0 = create)
    t.append(Seq((100L, "mid", 1L)).toDF("id", "v", "ts")) // snapshot 2
    t.tag("v-mid")
    t.deletePositions($"id" === 100L) // snapshot 3: back to 10 rows
    IcebergExport.export(spark, t, history = 3)
    val s1 = t.snapshots.reverse(2).snapshotId
    val s2 = t.snapshots.reverse(1).snapshotId
    // in-engine hand-walk: every exported snapshot equals readAsOf
    assert(IcebergExport.scan(spark, t.location).count() === 10)
    assert(IcebergExport.scan(spark, t.location, Some(s1.toString))
      .orderBy("id").collect() ===
      t.readAsOf(s1).orderBy("id").collect())
    assert(IcebergExport.scan(spark, t.location, Some("v-mid"))
      .count() === 11)
    intercept[IllegalArgumentException](
      IcebergExport.scan(spark, t.location, Some("no-such-ref")))
    // external engine: DuckDB hand-walk with --at (id and tag)
    val path = new java.net.URI("file://" + t.location).getPath
    val atOld = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t", "--at", s2.toString).!!
    assert(atOld.trim.split("\n").last === "11")
    val atTag = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t", "--at", "v-mid").!!
    assert(atTag.trim.split("\n").last === "11")
    val atTip = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t").!!
    assert(atTip.trim.split("\n").last === "10")
    // refs carry the tag; snapshot-log lists the exported history
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val metaDir = Paths.get(path, "metadata")
    val v = Files.readString(metaDir.resolve("version-hint.text")).trim
    val meta = JsonMethods.parse(
      Files.readString(metaDir.resolve(s"v$v.metadata.json")))
    assert((meta \ "refs" \ "v-mid" \ "snapshot-id").extract[Long]
      === t.refs("v-mid"))
    assert((meta \ "snapshots").children.size === 3)
  }

  test("branch refs export: a staged WAP branch is readable externally " +
      "pre-fast-forward; main stays clean; publish retires the ref") {
    val t = mkTable("ice-branch", 100L)
    t.createBranch("audit")
    val b = t.branch("audit")
    b.append((101L to 120L).map(i => (i, s"v$i", i * 10L))
      .toDF("id", "v", "ts"))
    IcebergExport.export(spark, t)
    // main ref: staged rows invisible
    assert(IcebergExport.scan(spark, t.location).count() === 100)
    // branch ref: the staged state, resolved by name like any ref
    val audit = IcebergExport.scan(spark, t.location, Some("audit"))
    assert(audit.count() === 120)
    assert(audit.orderBy("id").collect() ===
      b.read().orderBy("id").collect())
    // metadata: branch rides in refs with type "branch"
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val path = new java.net.URI("file://" + t.location).getPath
    val metaDir = Paths.get(path, "metadata")
    def meta() = JsonMethods.parse(Files.readString(metaDir.resolve(
      s"v${Files.readString(metaDir.resolve("version-hint.text")).trim}" +
        ".metadata.json")))
    assert((meta() \ "refs" \ "audit" \ "type").extract[String] === "branch")
    assert((meta() \ "refs" \ "audit" \ "snapshot-id").extract[Long] ===
      b.latestSnapshotId.get)
    // snapshot-log stays main lineage; the branch tip is in snapshots
    assert((meta() \ "snapshot-log").children.size === 1)
    assert((meta() \ "snapshots").children.size === 2)
    // external engine: DuckDB hand-walk resolves the branch ref
    val atBranch = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t", "--at", "audit").!!
    assert(atBranch.trim.split("\n").last === "120")
    val atMain = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t").!!
    assert(atMain.trim.split("\n").last === "100")
    // publish + re-export: the ref is gone, main carries the rows
    t.fastForward("audit")
    IcebergExport.export(spark, t)
    assert((meta() \ "refs" \ "audit") === JNothing)
    assert(IcebergExport.scan(spark, t.location).count() === 120)
  }

  test("a DIVERGED branch exports NO ref — its tip id names main's " +
      "colliding snapshot, and a ref would expose main's rows as staging") {
    val t = mkTable("ice-branch-diverged", 10L)
    t.createBranch("audit")
    t.branch("audit").append(Seq((100L, "staged", 1L))
      .toDF("id", "v", "ts"))
    // main advances past the fork point: branch tip id now collides
    t.append(Seq((200L, "mainrow", 2L)).toDF("id", "v", "ts"))
    IcebergExport.export(spark, t, history = 2)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    val path = new java.net.URI("file://" + t.location).getPath
    val metaDir = Paths.get(path, "metadata")
    val meta = JsonMethods.parse(Files.readString(metaDir.resolve(
      s"v${Files.readString(metaDir.resolve("version-hint.text")).trim}" +
        ".metadata.json")))
    assert((meta \ "refs" \ "audit") === JNothing,
      "diverged branch must not export a ref")
    intercept[IllegalArgumentException](
      IcebergExport.scan(spark, t.location, Some("audit")))
    // main reads stay main
    assert(IcebergExport.scan(spark, t.location).count() === 11)
  }

  test("sibling branches with COLLIDING tip ids: only the exported " +
      "chain's branch gets a ref — a sibling ref would expose the " +
      "owner's staged rows under the sibling's name") {
    val t = mkTable("ice-branch-siblings", 10L)
    // two branches forked from the same main tip each commit once:
    // both chains allocate the SAME next sequential snapshot id
    t.createBranch("alpha")
    t.createBranch("beta")
    t.branch("alpha").append(Seq((100L, "alpha-staged", 1L))
      .toDF("id", "v", "ts"))
    t.branch("beta").append(Seq((200L, "beta-staged", 2L))
      .toDF("id", "v", "ts"))
    assert(t.branch("alpha").latestSnapshotId ===
      t.branch("beta").latestSnapshotId, "fixture requires the collision")
    IcebergExport.export(spark, t)
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val path = new java.net.URI("file://" + t.location).getPath
    val metaDir = Paths.get(path, "metadata")
    val meta = JsonMethods.parse(Files.readString(metaDir.resolve(
      s"v${Files.readString(metaDir.resolve("version-hint.text")).trim}" +
        ".metadata.json")))
    // the name-sorted first branch owns the exported snapshot
    assert((meta \ "refs" \ "alpha" \ "snapshot-id").extract[Long] ===
      t.branch("alpha").latestSnapshotId.get)
    assert((meta \ "refs" \ "beta") === JNothing,
      "colliding sibling must not export a ref")
    // the exported branch state is exactly alpha's chain
    val alpha = IcebergExport.scan(spark, t.location, Some("alpha"))
    assert(alpha.orderBy("id").collect() ===
      t.branch("alpha").read().orderBy("id").collect())
    assert(alpha.filter($"v" === "beta-staged").count() === 0)
    intercept[IllegalArgumentException](
      IcebergExport.scan(spark, t.location, Some("beta")))
  }

  test("a branch with no own commits exports a ref at its fork point") {
    val t = mkTable("ice-branch-empty", 10L)
    t.createBranch("staging")
    IcebergExport.export(spark, t)
    val audit = IcebergExport.scan(spark, t.location, Some("staging"))
    assert(audit.count() === 10)
  }

  test("re-export after a commit bumps the version and sees new rows") {
    val t = mkTable("ice-v2", 10L)
    IcebergExport.export(spark, t)
    t.append(Seq((100L, "new", 1L)).toDF("id", "v", "ts"))
    val p2 = IcebergExport.export(spark, t)
    assert(p2.endsWith("v2.metadata.json"))
    assert(IcebergExport.scan(spark, t.location).count() === 11)
  }

  test("identity-partitioned tables export tuples; columns reconstruct") {
    val t = GraftTable(spark, tmpDir("ice-part") + "/t")
    t.append(Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p1"))
      .toDF("id", "v", "part"), parts = Seq("part"))
    IcebergExport.export(spark, t)
    val back = IcebergExport.scan(spark, t.location)
    assert(back.orderBy("id").select("id", "v", "part")
      .as[(Long, String, String)].collect() ===
      Array((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p1")))
  }

  test("live MOR tombstones export as v2 equality-delete manifests; " +
      "in-engine scan and DuckDB hand-walk both apply them unfolded") {
    val t = mkTable("ice-mor", 20L)
    t.merge(Seq((5L, "upd", 999L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    t.merge(Seq((7L, "upd2", 999L), (21L, "ins", 1L))
      .toDF("id", "v", "ts"), Seq("id"), Seq("id"), "ts", mode = "mor")
    assert(t.liveDeletes().size === 2) // NOT folded — the point
    IcebergExport.export(spark, t)
    val back = IcebergExport.scan(spark, t.location)
    assert(back.orderBy("id").collect() ===
      t.read().orderBy("id").collect())
    assert(back.count() === 21)
    // external engine: the DuckDB hand-walk applies the delete manifest
    // with the same strict sequence ordering
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT id, v FROM t ORDER BY id").!!
    val expect = t.read().orderBy("id").select("id", "v")
      .as[(Long, String)].collect().map { case (i, v) => s"$i,$v" }.toSeq
    assert(out.trim.split("\n").drop(1).toSeq === expect)
    // the exported plan names both tombstone files, key-scoped to `id`
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val plan = JsonMethods.parse(Seq("python3",
      "tools/read_iceberg_duckdb.py", path, "--plan").!!)
    val dels = (plan \ "deletes").children
    assert(dels.size === 2)
    assert(dels.forall(d =>
      (d \ "equality_cols").extract[Seq[String]] === Seq("id")))
  }

  test("export refuses a live tombstone lacking a recorded field, " +
      "naming it, as the native read does") {
    Seq("bytes", "cols").foreach { field =>
      val t = mkTable(s"ice-legacy-$field", 10L)
      val d = graft.table.LegacyTombstone(t, field)
      val e = intercept[IllegalStateException](
        IcebergExport.export(spark, GraftTable(spark, t.location)))
      assert(e.getMessage.contains(d.path) &&
        e.getMessage.contains(s"`$field`"))
    }
  }

  test("position deletes export as content=1 files; in-engine scan and " +
      "DuckDB hand-walk both apply them") {
    val t = mkTable("ice-posdel", 30L)
    t.deletePositions($"id" === 4L || $"id" === 17L)
    // mix in an equality tombstone: one delete manifest, both encodings
    t.merge(Seq((9L, "upd", 999L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    assert(t.liveDeletes().count(_.isPosition) === 1)
    assert(t.liveDeletes().count(!_.isPosition) === 1)
    IcebergExport.export(spark, t)
    // in-engine hand-walk equals the graft MOR read
    val back = IcebergExport.scan(spark, t.location)
    assert(back.orderBy("id").collect() ===
      t.read().orderBy("id").collect())
    assert(back.count() === 28) // 30 - 2 position-deleted (merge replaces)
    assert(back.filter(col("id").isin(4L, 17L)).count() === 0)
    // external engine readback (DuckDB + file_row_number anti-join)
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT id, v FROM t ORDER BY id").!!
    val expect = t.read().orderBy("id").select("id", "v")
      .as[(Long, String)].collect().map { case (i, v) => s"$i,$v" }.toSeq
    assert(out.trim.split("\n").drop(1).toSeq === expect)
    // the plan names both delete encodings
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val plan = JsonMethods.parse(Seq("python3",
      "tools/read_iceberg_duckdb.py", path, "--plan").!!)
    val contents = (plan \ "deletes").children
      .map(d => (d \ "content").extract[String]).sorted
    assert(contents === List("equality", "position"))
  }

  test("partitioned MOR export keeps the identity data spec; deletes " +
      "ride an unpartitioned spec and readback matches morRead") {
    val t = GraftTable(spark, tmpDir("ice-morpart") + "/t")
    t.append(Seq((1L, "a", "p1"), (2L, "b", "p2"), (3L, "c", "p1"),
      (4L, "d", "p2")).toDF("id", "v", "part"), parts = Seq("part"))
    t.merge(Seq((2L, "B", "p2"), (5L, "e", "p1")).toDF("id", "v", "part"),
      Seq("id"), Seq("id"), "id", mode = "mor")
    assert(t.liveDeletes().nonEmpty)
    IcebergExport.export(spark, t)
    val back = IcebergExport.scan(spark, t.location)
    assert(back.orderBy("id").select("id", "v", "part").collect() ===
      t.read().orderBy("id").select("id", "v", "part").collect())
    val path = new java.net.URI("file://" + t.location).getPath
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val plan = JsonMethods.parse(Seq("python3",
      "tools/read_iceberg_duckdb.py", path, "--plan").!!)
    assert((plan \ "spec").children.nonEmpty)   // data spec preserved
    assert((plan \ "deletes").children.nonEmpty)
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT id, v, part FROM t ORDER BY id").!!
    val expect = t.read().orderBy("id").select("id", "v", "part")
      .as[(Long, String, String)].collect()
      .map { case (i, v, p) => s"$i,$v,$p" }.toSeq
    assert(out.trim.split("\n").drop(1).toSeq === expect)
  }

  test("month transform spec, partition tuples, and column bounds are " +
      "visible to the independent hand-walk planner") {
    val loc = tmpDir("ice-plan") + "/t"
    val t = GraftTable(spark, loc)
    // ids 1-50 in 2024-01, 51-100 in 2024-02, clustered on id so the
    // per-file id bounds are tight and disjoint within each month
    val rows = (1L to 100L).map { i =>
      (i, s"v$i", java.sql.Date.valueOf(
        if (i <= 50) "2024-01-10" else "2024-02-10"))
    }
    t.append(rows.toDF("id", "v", "d"), parts = Seq("months(d)"),
      sortBy = Seq("id"))
    IcebergExport.export(spark, t)
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "--plan").!!
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val plan = JsonMethods.parse(out)
    // the spec is a REAL month transform on the source column
    val specs = (plan \ "spec").children.map(f =>
      ((f \ "name").extract[String], (f \ "transform").extract[String]))
    assert(specs === List(("d_month", "month")))
    val files = (plan \ "files").children
    assert(files.nonEmpty)
    // Iceberg month ordinals: 2024-01 = (2024-1970)*12 = 648; Feb = 649
    val monthsSeen = files.map(f =>
      (f \ "partition" \ "d_month").extract[Int]).toSet
    assert(monthsSeen === Set(648, 649))
    // per-file id bounds: present, ordered, consistent with the month
    files.foreach { f =>
      val m = (f \ "partition" \ "d_month").extract[Int]
      val lo = (f \ "lower_bounds" \ "id").extract[Long]
      val hi = (f \ "upper_bounds" \ "id").extract[Long]
      assert(lo <= hi)
      if (m == 648) assert(hi <= 50L) else assert(lo >= 51L)
      // date bounds ride along as epoch days
      val dlo = (f \ "lower_bounds" \ "d").extract[Int]
      assert(dlo === (if (m == 648) 19732 else 19763)) // 2024-01-10 / 02-10
      // string bounds too
      assert((f \ "lower_bounds" \ "v").extract[String].startsWith("v"))
    }
    // global bounds cover the full range exactly
    assert(files.map(f => (f \ "lower_bounds" \ "id").extract[Long]).min === 1L)
    assert(files.map(f => (f \ "upper_bounds" \ "id").extract[Long]).max === 100L)
    // ...and the multi-engine loop closes on the partitioned table: the
    // DuckDB readback through the same metadata equals the graft read
    val sql = "SELECT COUNT(*) AS n, SUM(id) AS s FROM t"
    val dOut = Seq("python3", "tools/read_iceberg_duckdb.py", path, sql).!!
    val Array(_, row) = dOut.trim.split("\n")
    assert(row === "100,5050")
    // and the in-engine hand-walk agrees
    assert(IcebergExport.scan(spark, t.location).orderBy("id")
      .select("id", "v", "d").collect() ===
      t.read().orderBy("id").select("id", "v", "d").collect())
  }

  test("hour and year transforms export truthful hour/int-ordinal specs " +
      "the hand-walk planner decodes") {
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    // hour-partitioned event table (the streaming bronze layout)
    val th = GraftTable(spark, tmpDir("ice-hour") + "/t")
    val hourRows = for { h <- 0 until 3; i <- 0 until 5 } yield
      (h.toLong * 5 + i,
        new java.sql.Timestamp(1704067200000L + h * 3600000L + i * 1000L))
    th.append(hourRows.toDF("id", "ts"), parts = Seq("hours(ts)"))
    IcebergExport.export(spark, th)
    val hPath = new java.net.URI("file://" + th.location).getPath
    val hPlan = JsonMethods.parse(
      Seq("python3", "tools/read_iceberg_duckdb.py", hPath, "--plan").!!)
    assert((hPlan \ "spec").children.map(f =>
      ((f \ "name").extract[String], (f \ "transform").extract[String]))
      === List(("ts_hour", "hour")))
    // 2024-01-01T00 UTC = 19723 days * 24 = 473352 hours from epoch
    val hoursSeen = (hPlan \ "files").children.map(f =>
      (f \ "partition" \ "ts_hour").extract[Int]).toSet
    assert(hoursSeen === Set(473352, 473353, 473354))
    val hOut = Seq("python3", "tools/read_iceberg_duckdb.py", hPath,
      "SELECT COUNT(*) AS n FROM t").!!
    assert(hOut.trim.split("\n").last === "15")
    // year-partitioned table: year ordinal = year - 1970
    val ty = GraftTable(spark, tmpDir("ice-year") + "/t")
    val yearRows = Seq("2023-06-15", "2024-06-15").zipWithIndex.map {
      case (d, i) => (i.toLong, java.sql.Timestamp.valueOf(s"$d 00:00:00"))
    }
    ty.append(yearRows.toDF("id", "ts"), parts = Seq("years(ts)"))
    IcebergExport.export(spark, ty)
    val yPath = new java.net.URI("file://" + ty.location).getPath
    val yPlan = JsonMethods.parse(
      Seq("python3", "tools/read_iceberg_duckdb.py", yPath, "--plan").!!)
    assert((yPlan \ "spec").children.map(f =>
      ((f \ "name").extract[String], (f \ "transform").extract[String]))
      === List(("ts_year", "year")))
    assert((yPlan \ "files").children.map(f =>
      (f \ "partition" \ "ts_year").extract[Int]).toSet === Set(53, 54))
    assert(IcebergExport.scan(spark, ty.location).count() === 2)
  }

  test("spec-evolved table (files predating the current spec) exports " +
      "unpartitioned instead of failing or emitting null tuples") {
    val loc = tmpDir("ice-evolve") + "/t"
    val t = GraftTable(spark, loc)
    // first file lands under the EMPTY spec — it has no d_month dir
    t.append((1L to 10L).map(i =>
      (i, s"v$i", java.sql.Date.valueOf("2024-01-10")))
      .toDF("id", "v", "d").coalesce(1))
    t.updatePartitionSpec(Seq("months(d)"))
    t.append((11L to 20L).map(i =>
      (i, s"v$i", java.sql.Date.valueOf("2024-02-10")))
      .toDF("id", "v", "d").coalesce(1))
    // pre-fix this threw IllegalStateException on the old-layout file;
    // a null tuple would make external planners mis-prune it — the
    // correct conservative export is unpartitioned
    IcebergExport.export(spark, t)
    val path = new java.net.URI("file://" + t.location).getPath
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "--plan").!!
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val plan = JsonMethods.parse(out)
    assert((plan \ "spec").children.isEmpty) // unpartitioned spec
    val sql = "SELECT COUNT(*) AS n, SUM(id) AS s FROM t"
    val dOut = Seq("python3", "tools/read_iceberg_duckdb.py", path, sql).!!
    assert(dOut.trim.split("\n")(1) === "20,210")
    assert(IcebergExport.scan(spark, t.location).orderBy("id")
      .select("id", "v", "d").collect() ===
      t.read().orderBy("id").select("id", "v", "d").collect())
  }

  test("bucket transform exports a truthful bucket[n] spec the external " +
      "planner prunes by") {
    val t = GraftTable(spark, tmpDir("ice-bucket") + "/t")
    t.append((1L to 400L).map(i => (i, s"v$i")).toDF("id", "v"),
      parts = Seq("bucket(8, id)"))
    IcebergExport.export(spark, t)
    val path = new java.net.URI("file://" + t.location).getPath
    import org.json4s._
    import org.json4s.jackson.JsonMethods
    implicit val fmts: Formats = DefaultFormats
    val plan = JsonMethods.parse(Seq("python3",
      "tools/read_iceberg_duckdb.py", path, "--plan").!!)
    // the spec is a REAL bucket[8] on the source column — no more
    // unpartitioned fallback
    val specs = (plan \ "spec").children.map(f =>
      ((f \ "name").extract[String], (f \ "transform").extract[String]))
    assert(specs === List(("id_bucket8m", "bucket[8]")))
    val files = (plan \ "files").children.map(f =>
      ((f \ "path").extract[String],
        (f \ "partition" \ "id_bucket8m").extract[Int]))
    assert(files.map(_._2).toSet.size > 1, "expected multiple buckets")
    // external-planner pruning: recompute the Appendix-B bucket for a
    // probe key and scan ONLY the matching files — the key must be
    // there, and nowhere else (the truthfulness the old xxhash layout
    // could not offer)
    Seq(7L, 137L, 400L).foreach { probe =>
      val b = graft.functions.IcebergBucketHash.bucketLong(probe, 8)
      val (selected, rest) = files.partition(_._2 == b)
      assert(selected.nonEmpty && rest.nonEmpty)
      assert(spark.read.parquet(selected.map(_._1): _*)
        .filter($"id" === probe).count() === 1L)
      assert(spark.read.parquet(rest.map(_._1): _*)
        .filter($"id" === probe).count() === 0L)
    }
    // and the DuckDB hand-walk reads the whole table back identically
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n, SUM(id) AS s FROM t").!!
    assert(out.trim.split("\n").last === "400,80200")
  }

  test("external engine (DuckDB hand-walk) reads the export identically") {
    val t = mkTable("ice-duck", 500L)
    IcebergExport.export(spark, t)
    val loc = new java.net.URI("file://" + t.location).getPath
    // count + full-content checksum, computed by DuckDB over the files
    // the INDEPENDENT python Avro decoder resolved from the manifests
    val sql = "SELECT COUNT(*) AS n, SUM(id) AS s, SUM(ts) AS st, " +
      "COUNT(DISTINCT v) AS dv FROM t"
    val out = Seq("python3", "tools/read_iceberg_duckdb.py", loc, sql).!!
    val Array(header, row) = out.trim.split("\n")
    assert(header === "n,s,st,dv")
    val expected = t.read().agg(count("*"), sum("id"), sum("ts"),
      countDistinct("v")).as[(Long, Long, Long, Long)].head()
    assert(row === s"${expected._1},${expected._2},${expected._3},${expected._4}")
  }
}
