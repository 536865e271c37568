package graft.iceberg

import java.io.File

import scala.jdk.CollectionConverters._

import org.apache.avro.Schema
import org.apache.avro.file.DataFileWriter
import org.apache.avro.generic.{GenericData, GenericDatumWriter, GenericRecord}
import org.apache.spark.sql.functions._
import graft.SparkSpec
import graft.table.GraftTable

/** Iceberg IMPORT — the inverse direction of [[IcebergExport]]: foreign
  * Iceberg v2 metadata trees hand-walked into a live DataFrame and into a
  * materialized graft table, with no Iceberg jar. Round-trip cases run
  * against graft's own export (the reference's multi-engine loop closed:
  * write → export → re-import); the FOREIGN fixture is written by this
  * spec with its own Avro/JSON writer — metastore file naming, no
  * version-hint, null sequence numbers (v2 inheritance), extra manifest
  * stats columns, per-snapshot schema ids, and a v1-style inline
  * `manifests` snapshot — none of which IcebergExport ever produces. */
class IcebergImportSpec extends SparkSpec {
  import spark.implicits._

  test("round trip: identity-partitioned export re-imports exactly") {
    val t = GraftTable(spark, tmpDir("imp-rt") + "/t")
    t.append((1L to 60L).map(i => (i, s"c${i % 3}", i * 1.5))
      .toDF("id", "cat", "v"), parts = Seq("cat"))
    IcebergExport.export(spark, t)
    val p = IcebergImport.plan(spark, t.location)
    assert(p.identityCols === Seq("cat"))
    assert(p.files.nonEmpty && p.files.forall(_.identity.contains("cat")))
    val back = IcebergImport.read(spark, t.location)
    assert(back.schema.fieldNames.toSeq === Seq("id", "cat", "v"))
    assert(back.orderBy("id").collect() === t.read().orderBy("id")
      .select("id", "cat", "v").collect())
  }

  test("round trip: partition values holding ':' and ' ' re-import " +
      "(file paths open literally, as the scan opens them)") {
    val t = GraftTable(spark, tmpDir("imp-esc") + "/t")
    t.append((1L to 20L).map(i =>
      (i, if (i % 2 == 0) "a:1" else "y 2", i * 1.5))
      .toDF("id", "cat", "v"), parts = Seq("cat"))
    IcebergExport.export(spark, t)
    val back = IcebergImport.read(spark, t.location)
    assert(back.orderBy("id").collect() === t.read().orderBy("id")
      .select("id", "cat", "v").collect())
    assert(back.select("cat").distinct().as[String].collect().sorted ===
      Array("a:1", "y 2"))
  }

  test("round trip: live MOR state (equality + position tombstones)") {
    val t = GraftTable(spark, tmpDir("imp-mor") + "/t")
    t.append((1L to 50L).map(i => (i, s"c${i % 2}", i * 1.0))
      .toDF("id", "cat", "v"), parts = Seq("cat"))
    t.merge((10L to 20L).map(i => (i, "cX", -1.0)).toDF("id", "cat", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id", mode = "mor")
    t.deletePositions($"id" % 7 === 0)
    require(t.liveDeletes().exists(_.isPosition) &&
      t.liveDeletes().exists(!_.isPosition),
      "fixture must carry both live delete encodings")
    IcebergExport.export(spark, t)
    val back = IcebergImport.read(spark, t.location)
    assert(back.orderBy("id").collect() ===
      t.read().orderBy("id").select("id", "cat", "v").collect())
  }

  test("time travel: ref name and snapshot id resolve over the export") {
    val t = GraftTable(spark, tmpDir("imp-tt") + "/t")
    t.append((1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v"))
    val s1 = t.latestSnapshotId.get
    t.tag("before")
    t.append((11L to 20L).map(i => (i, i * 1.0)).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 3)
    assert(IcebergImport.read(spark, t.location).count() === 20)
    assert(IcebergImport.read(spark, t.location, Some("before"))
      .count() === 10)
    assert(IcebergImport.read(spark, t.location, Some(s1.toString))
      .count() === 10)
    intercept[IllegalArgumentException](
      IcebergImport.read(spark, t.location, Some("nope")))
  }

  test("importInto materializes a graft table the full engine surface " +
      "runs over (partitioning preserved, merge on top works)") {
    val src = GraftTable(spark, tmpDir("imp-src") + "/t")
    src.append((1L to 40L).map(i => (i, s"c${i % 2}", i * 1.0))
      .toDF("id", "cat", "v"), parts = Seq("cat"))
    IcebergExport.export(spark, src)
    val dest = IcebergImport.importInto(spark, src.location,
      tmpDir("imp-dst") + "/t")
    assert(dest.partitionFields.map(_.source) === Seq("cat"))
    assert(dest.read().orderBy("id").select("id", "cat", "v").collect() ===
      src.read().orderBy("id").select("id", "cat", "v").collect())
    // the imported table is a first-class graft table: MOR merge + time
    // travel work on top of it
    val s0 = dest.latestSnapshotId.get
    dest.merge(Seq((1L, "cZ", 0.0), (99L, "cZ", 9.0)).toDF("id", "cat", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id", mode = "mor")
    assert(dest.read().count() === 41)
    assert(dest.readAsOf(s0).count() === 40)
  }

  test("hidden-transform partition specs (days/bucket) re-import: " +
      "source columns come from the data files") {
    val t = GraftTable(spark, tmpDir("imp-hid") + "/t")
    val df = (1L to 30L).map(i =>
      (i, java.sql.Date.valueOf(java.time.LocalDate.of(2024, 1,
        (i % 28 + 1).toInt)), i * 2.0)).toDF("id", "d", "v")
    t.append(df, parts = Seq("days(d)", "bucket(4, id)"))
    IcebergExport.export(spark, t)
    val p = IcebergImport.plan(spark, t.location)
    assert(p.identityCols.isEmpty) // hidden transforms: nothing to rebuild
    val back = IcebergImport.read(spark, t.location)
    assert(back.orderBy("id").collect() ===
      t.read().orderBy("id").select("id", "d", "v").collect())
  }

  test("v3 exotic column types (variant / geometry / geography / " +
      "timestamp_ns / unknown) refuse LOUDLY on import, naming the " +
      "type — never a silent mis-map") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    Seq("variant", "geometry", "geography", "timestamp_ns",
      "unknown").foreach { exotic =>
      val loc = tmpDir(s"imp-exotic-$exotic") + "/ft"
      new java.io.File(loc).mkdirs()
      val f = ForeignFixtures.writeParquet(spark, loc, "A",
        Seq(Tuple1(1L)).toDF("id"))
      ForeignFixtures.writeTree(loc, Seq(ForeignFixtures.schemaJson(0,
        Seq((1, "id", "long"), (2, "x", exotic)))), 0, Seq.empty,
        Seq(Snap(100L, None, 1L, "append", Seq(Data(f, 1, 1L)))),
        formatVersion = 3, lastColumnId = 2)
      val e = intercept[IllegalArgumentException](
        IcebergImport.plan(spark, loc))
      assert(e.getMessage.contains(exotic),
        s"refusal for '$exotic' must name the type: ${e.getMessage}")
      // the full read path refuses identically (schema parse is the
      // first thing plan() does — no file is ever opened)
      intercept[IllegalArgumentException](IcebergImport.read(spark, loc))
    }
  }

  // ------------------------------------------------------------------ //
  // LIST and MAP columns: parse, read, MOR, evolution, refusal shapes  //
  // ------------------------------------------------------------------ //

  test("list and map columns: id-resolved round trip under a position " +
      "delete, output schema plain at every depth") {
    import ForeignFixtures.{Data, PosDel, Snap}
    import org.apache.spark.sql.types._
    val loc = tmpDir("imp-coll") + "/ft"
    new java.io.File(loc).mkdirs()
    def meta(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val collSchema = StructType(Seq(
      StructField("id", LongType, nullable = true, meta(1)),
      StructField("xs", ArrayType(LongType), nullable = true, meta(2)),
      StructField("m", MapType(StringType, LongType),
        nullable = true, meta(3))))
    val rows = (1L to 6L).map(i => org.apache.spark.sql.Row(
      i, Seq(i, i * 10), Map("a" -> i, "b" -> (i * 100))))
    val df = spark.createDataFrame(rows.asJava, collSchema)
      .repartition(1).sortWithinPartitions("id")
    val fA = ForeignFixtures.writeParquet(spark, loc, "A", df)
    val fPos = ForeignFixtures.writeParquet(spark, loc, "posdel",
      Seq((fA, 2L)).toDF("file_path", "pos")) // tombstone id=3
    val schema = ForeignFixtures.schemaJsonTyped(0, Seq(
      (1, "id", "\"long\""),
      (2, "xs", ForeignFixtures.listType(4, "\"long\"")),
      (3, "m", ForeignFixtures.mapType(5, "\"string\"", 6, "\"long\""))))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 2L, "overwrite", Seq(
        Data(fA, 6L, 1L), PosDel(fPos, 1L, 2L)))),
      lastColumnId = 6)
    val back = IcebergImport.read(spark, loc)
    // no field-id metadata anywhere in the output schema
    assert(back.schema.forall(f => f.metadata == Metadata.empty))
    val got = back.orderBy("id")
      .select($"id", element_at($"xs", 2).as("x2"),
        element_at($"m", "b").as("mb"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.toSeq ===
      Seq(1L, 2L, 4L, 5L, 6L).map(i => (i, i * 10, i * 100)))
  }

  test("list of STRUCTS: inner leaf RENAME resolves by field id " +
      "against pre-evolve files (ids matched inside collections)") {
    import ForeignFixtures.{Data, Snap}
    import org.apache.spark.sql.types._
    val loc = tmpDir("imp-coll-evolve") + "/ft"
    new java.io.File(loc).mkdirs()
    def meta(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    // file written under schema 0: points: list<struct<x(5), y(6)>>
    val elem = StructType(Seq(
      StructField("x", LongType, nullable = true, meta(5)),
      StructField("y", LongType, nullable = true, meta(6))))
    val fileSchema = StructType(Seq(
      StructField("id", LongType, nullable = true, meta(1)),
      StructField("points", ArrayType(elem), nullable = true, meta(2))))
    val rows = Seq(
      org.apache.spark.sql.Row(1L, Seq(
        org.apache.spark.sql.Row(10L, 11L))),
      org.apache.spark.sql.Row(2L, Seq(
        org.apache.spark.sql.Row(20L, 21L),
        org.apache.spark.sql.Row(22L, 23L))))
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      spark.createDataFrame(rows.asJava, fileSchema))
    def pointsSchema(xName: String) = ForeignFixtures.schemaJsonTyped(0,
      Seq((1, "id", "\"long\""),
        (2, "points", ForeignFixtures.listType(4,
          ForeignFixtures.structType(Seq(
            (5, xName, "\"long\""), (6, "y", "\"long\"")))))))
    // current schema renames the inner leaf x -> lon (same id 5): the
    // pre-rename file must keep serving its bytes under the new name
    ForeignFixtures.writeTree(loc, Seq(pointsSchema("lon")), 0,
      Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fA, 2L, 1L)))),
      lastColumnId = 6)
    val back = IcebergImport.read(spark, loc)
    val got = back.orderBy("id")
      .select($"id", element_at($"points", 1).getField("lon").as("lon"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 10L), (2L, 20L)))
  }

  test("NESTED-LEAF bounds pruning: readWhere on a struct-leaf " +
      "predicate skips files whose manifest bounds (keyed by the LEAF " +
      "field id) exclude it, byte-identical to read().filter") {
    import ForeignFixtures.{Data, Snap}
    val loc = tmpDir("imp-nested-prune") + "/ft"
    new java.io.File(loc).mkdirs()
    def le(v: Long): Array[Byte] = java.nio.ByteBuffer.allocate(8)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).putLong(v).array()
    // two files with DISJOINT cust.nid (leaf fid 4) ranges, bounds
    // recorded per the spec's leaf-id keying
    val fLo = ForeignFixtures.writeParquet(spark, loc, "lo", nestedFrame(
      (1L to 10L).map(i => (i, i, s"s$i", i * 1.0))))
    val fHi = ForeignFixtures.writeParquet(spark, loc, "hi", nestedFrame(
      (11L to 20L).map(i => (i, i + 100L, s"s$i", i * 1.0))))
    ForeignFixtures.writeTree(loc, Seq(nestedSchemaJson()), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(
        Data(fLo, 10L, 1L, bounds = Map(4 -> (le(1L), le(10L)))),
        Data(fHi, 10L, 1L, bounds = Map(4 -> (le(111L), le(120L))))))),
      lastColumnId = 5)
    val p = IcebergImport.plan(spark, loc)
    assert(p.files.forall(f => f.lower.contains("cust.nid") &&
      f.upper.contains("cust.nid")),
      s"nested-leaf bounds must resolve to the dotted path: " +
        p.files.map(_.lower.keys).mkString(","))
    val pruned = IcebergImport.readWhere(spark, loc,
      col("cust.nid") > 110L)
    assert(pruned.inputFiles.length === 1,
      "struct-leaf range predicate must skip the low file")
    assert(pruned.select("id").as[Long].collect().sorted ===
      (11L to 20L).toArray)
    // identical to the unpruned filter
    assert(pruned.orderBy("id").collect() ===
      IcebergImport.read(spark, loc).filter(col("cust.nid") > 110L)
        .orderBy("id").collect())
    // equality on the leaf prunes to one file too
    val eq = IcebergImport.readWhere(spark, loc,
      col("cust.nid") === 3L)
    assert(eq.inputFiles.length === 1 && eq.count() === 1L)
  }

  test("collection inner ids refuse LOUD when targeted by tree " +
      "metadata (partition spec source, equality-delete key)") {
    import ForeignFixtures.{Data, EqDel, Snap, SpecField}
    import org.apache.spark.sql.types._
    def meta(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val collSchema = StructType(Seq(
      StructField("id", LongType, nullable = true, meta(1)),
      StructField("xs", ArrayType(LongType), nullable = true, meta(2))))
    val rows = Seq(org.apache.spark.sql.Row(1L, Seq(7L)))
    val schemaJ = ForeignFixtures.schemaJsonTyped(0, Seq(
      (1, "id", "\"long\""),
      (2, "xs", ForeignFixtures.listType(4, "\"long\""))))
    // 1) partition spec sourced from the list's ELEMENT id
    locally {
      val loc = tmpDir("imp-coll-spec") + "/ft"
      new java.io.File(loc).mkdirs()
      val fA = ForeignFixtures.writeParquet(spark, loc, "A",
        spark.createDataFrame(rows.asJava, collSchema))
      ForeignFixtures.writeTree(loc, Seq(schemaJ), 0,
        Seq(SpecField("e_p", "identity", 4, "long")),
        Seq(Snap(100L, None, 1L, "append",
          Seq(Data(fA, 1L, 1L, Map("e_p" -> 7L))))),
        lastColumnId = 4)
      val e = intercept[IllegalArgumentException](
        IcebergImport.plan(spark, loc))
      assert(e.getMessage.contains("xs.element"), e.getMessage)
    }
    // 2) equality delete keyed on the element id
    locally {
      val loc = tmpDir("imp-coll-eq") + "/ft"
      new java.io.File(loc).mkdirs()
      val fA = ForeignFixtures.writeParquet(spark, loc, "A",
        spark.createDataFrame(rows.asJava, collSchema))
      val fEq = ForeignFixtures.writeParquet(spark, loc, "eqdel",
        Seq(Tuple1(7L)).toDF("e"))
      ForeignFixtures.writeTree(loc, Seq(schemaJ), 0, Seq.empty,
        Seq(Snap(100L, None, 2L, "overwrite", Seq(
          Data(fA, 1L, 1L), EqDel(fEq, 1L, 2L, Seq(4))))),
        lastColumnId = 4)
      val e = intercept[IllegalStateException](
        IcebergImport.plan(spark, loc))
      assert(e.getMessage.contains("xs.element"), e.getMessage)
    }
  }

  // ------------------------------------------------------------------ //
  // NESTED STRUCT columns (r15 verdict #3): id-resolved at every depth //
  // ------------------------------------------------------------------ //

  /** A frame of (id, cust{nid, status}, v) rows with parquet field ids
    * stamped at EVERY level, so the written files embed them. */
  private def nestedFrame(rows: Seq[(Long, Long, String, Double)])
      : org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.types._
    def meta(id: Long) =
      new MetadataBuilder().putLong("parquet.field.id", id).build()
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = true, meta(1)),
      StructField("cust", StructType(Seq(
        StructField("nid", LongType, nullable = true, meta(4)),
        StructField("status", StringType, nullable = true, meta(5)))),
        nullable = true, meta(2)),
      StructField("v", DoubleType, nullable = true, meta(3))))
    spark.createDataFrame(
      rows.map { case (i, n, st, v) =>
        org.apache.spark.sql.Row(i, org.apache.spark.sql.Row(n, st), v)
      }.asJava, schema)
  }

  private def nestedSchemaJson(statusName: String = "status",
      extraLeaf: Boolean = false): String =
    ForeignFixtures.schemaJsonTyped(0, Seq(
      (1, "id", "\"long\""),
      (2, "cust", ForeignFixtures.structType(
        Seq((4, "nid", "\"long\""), (5, statusName, "\"string\"")) ++
          (if (extraLeaf) Seq((6, "extra", "\"long\"")) else Seq.empty))),
      (3, "v", "\"double\"")))

  test("nested struct: id-resolved read under MOR deletes (position " +
      "delete + flat-keyed equality delete on a nested-carrying tree)") {
    import ForeignFixtures.{Data, EqDel, PosDel, Snap}
    val loc = tmpDir("imp-nested-mor") + "/ft"
    new java.io.File(loc).mkdirs()
    val fA = ForeignFixtures.writeParquet(spark, loc, "A", nestedFrame(
      (1L to 6L).map(i => (i, i * 10, s"s$i", i * 1.0))))
    // position delete kills row 0 of A (id=1); equality delete on the
    // TOP-LEVEL id column kills id=4 — both over a struct-carrying tree
    val fPos = ForeignFixtures.writeParquet(spark, loc, "posdel",
      Seq((fA, 0L)).toDF("file_path", "pos"))
    val fEq = ForeignFixtures.writeParquet(spark, loc, "eqdel",
      Seq(Tuple1(4L)).toDF("id"))
    ForeignFixtures.writeTree(loc, Seq(nestedSchemaJson()), 0, Seq.empty,
      Seq(Snap(100L, None, 2L, "overwrite", Seq(
        Data(fA, 6, 1L),
        PosDel(fPos, 1, 2L),
        EqDel(fEq, 1, 2L, Seq(1))))),
      lastColumnId = 5)
    val back = IcebergImport.read(spark, loc)
    // output schema is plain at every depth (no field-id metadata)
    import org.apache.spark.sql.types._
    val custT = back.schema("cust").dataType.asInstanceOf[StructType]
    assert(custT.fields.forall(_.metadata == Metadata.empty),
      "nested field-id metadata must not leak into the output schema")
    val got = back.select($"id", $"cust.nid", $"cust.status", $"v")
      .orderBy("id").collect().map(r =>
        (r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3)))
    assert(got.toSeq === Seq(2L, 3L, 5L, 6L).map(i =>
      (i, i * 10, s"s$i", i * 1.0)))
  }

  test("nested struct: leaf RENAME + later-added leaf resolve by field " +
      "id against pre-evolve files") {
    import ForeignFixtures.{Data, Snap}
    val loc = tmpDir("imp-nested-evolve") + "/ft"
    new java.io.File(loc).mkdirs()
    // file written under schema 0 (leaf named `status`, id 5)
    val fA = ForeignFixtures.writeParquet(spark, loc, "A", nestedFrame(
      Seq((1L, 10L, "old", 1.0), (2L, 20L, "older", 2.0))))
    // current schema 1 renames the nested leaf to `seg` (same id 5) and
    // adds a NEW nested leaf `extra` (id 6) no file carries yet
    val schema0 = nestedSchemaJson()
    val schema1 = ForeignFixtures.schemaJsonTyped(1, Seq(
      (1, "id", "\"long\""),
      (2, "cust", ForeignFixtures.structType(Seq(
        (4, "nid", "\"long\""), (5, "seg", "\"string\""),
        (6, "extra", "\"long\"")))),
      (3, "v", "\"double\"")))
    ForeignFixtures.writeTree(loc, Seq(schema0, schema1), 1, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fA, 2, 1L)))),
      lastColumnId = 6)
    val back = IcebergImport.read(spark, loc)
    val custT = back.schema("cust").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(custT.fieldNames.toSeq === Seq("nid", "seg", "extra"),
      "current schema names win (nested rename is metadata-only)")
    val got = back.select($"id", $"cust.seg", $"cust.extra")
      .orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2)))
    // seg carries the PRE-RENAME bytes (id 5); extra reads NULL
    assert(got.toSeq === Seq((1L, "old", -1L), (2L, "older", -1L)))
  }

  test("nested struct: TWO levels deep (struct-in-struct) round-trips " +
      "with ids at every depth and a list INSIDE a struct reads " +
      "(collections nest under structs)") {
    import ForeignFixtures.{Data, Snap}
    import org.apache.spark.sql.types._
    val loc = tmpDir("imp-nested-deep") + "/ft"
    new java.io.File(loc).mkdirs()
    def meta(id: Long) =
      new MetadataBuilder().putLong("parquet.field.id", id).build()
    val deep = StructType(Seq(
      StructField("id", LongType, nullable = true, meta(1)),
      StructField("a", StructType(Seq(
        StructField("b", StructType(Seq(
          StructField("x", LongType, nullable = true, meta(4)))),
          nullable = true, meta(3)))),
        nullable = true, meta(2))))
    val df = spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(1L,
        org.apache.spark.sql.Row(org.apache.spark.sql.Row(7L))),
        org.apache.spark.sql.Row(2L,
          org.apache.spark.sql.Row(org.apache.spark.sql.Row(9L))))
        .asJava, deep)
    val fA = ForeignFixtures.writeParquet(spark, loc, "A", df)
    val schema = ForeignFixtures.schemaJsonTyped(0, Seq(
      (1, "id", "\"long\""),
      (2, "a", ForeignFixtures.structType(Seq(
        (3, "b", ForeignFixtures.structType(Seq((4, "x", "\"long\"")))))))))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fA, 2, 1L)))),
      lastColumnId = 4)
    val got = IcebergImport.read(spark, loc)
      .select($"id", $"a.b.x").orderBy("id").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 7L), (2L, 9L)))

    // a list nested INSIDE a struct reads (id on the struct and the
    // list field, element resolved structurally)
    val loc2 = tmpDir("imp-nested-deep-list") + "/ft"
    new java.io.File(loc2).mkdirs()
    val inner = StructType(Seq(
      StructField("xs", ArrayType(LongType), nullable = true, meta(3))))
    val outer = StructType(Seq(
      StructField("id", LongType, nullable = true, meta(1)),
      StructField("a", inner, nullable = true, meta(2))))
    val fB = ForeignFixtures.writeParquet(spark, loc2,
      "A", spark.createDataFrame(Seq(
        org.apache.spark.sql.Row(1L,
          org.apache.spark.sql.Row(Seq(5L, 6L)))).asJava, outer))
    val schema2 = ForeignFixtures.schemaJsonTyped(0, Seq(
      (1, "id", "\"long\""),
      (2, "a", ForeignFixtures.structType(Seq(
        (3, "xs", ForeignFixtures.listType(4, "\"long\"")))))))
    ForeignFixtures.writeTree(loc2, Seq(schema2), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fB, 1, 1L)))),
      lastColumnId = 4)
    val got2 = IcebergImport.read(spark, loc2)
      .select($"id", element_at($"a.xs", 2).as("x2")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(got2.toSeq === Seq((1L, 6L)))
  }

  test("nested struct: unsupported interactions refuse LOUD with the " +
      "dotted path (spec-sourced partition, nested-keyed equality " +
      "delete, struct initial-default)") {
    import ForeignFixtures.{Data, EqDel, Snap, SpecField}
    // 1) partition spec sourced from a nested leaf
    locally {
      val loc = tmpDir("imp-nested-spec") + "/ft"
      new java.io.File(loc).mkdirs()
      val fA = ForeignFixtures.writeParquet(spark, loc, "A",
        nestedFrame(Seq((1L, 10L, "x", 1.0))))
      ForeignFixtures.writeTree(loc, Seq(nestedSchemaJson()), 0,
        Seq(SpecField("status_p", "identity", 5, "string")),
        Seq(Snap(100L, None, 1L, "append",
          Seq(Data(fA, 1, 1L, Map("status_p" -> "x"))))),
        lastColumnId = 5)
      val e = intercept[IllegalArgumentException](
        IcebergImport.plan(spark, loc))
      assert(e.getMessage.contains("cust.status"), e.getMessage)
    }
    // 2) equality delete keyed on a nested leaf id
    locally {
      val loc = tmpDir("imp-nested-eq") + "/ft"
      new java.io.File(loc).mkdirs()
      val fA = ForeignFixtures.writeParquet(spark, loc, "A",
        nestedFrame(Seq((1L, 10L, "x", 1.0))))
      val fEq = ForeignFixtures.writeParquet(spark, loc, "eqdel",
        Seq(Tuple1("x")).toDF("status"))
      ForeignFixtures.writeTree(loc, Seq(nestedSchemaJson()), 0,
        Seq.empty,
        Seq(Snap(100L, None, 2L, "overwrite", Seq(
          Data(fA, 1, 1L), EqDel(fEq, 1, 2L, Seq(5))))),
        lastColumnId = 5)
      val e = intercept[IllegalStateException](
        IcebergImport.plan(spark, loc))
      assert(e.getMessage.contains("cust.status"), e.getMessage)
    }
    // 3) v3 initial-default on a struct field
    locally {
      val loc = tmpDir("imp-nested-def") + "/ft"
      new java.io.File(loc).mkdirs()
      val fA = ForeignFixtures.writeParquet(spark, loc, "A",
        nestedFrame(Seq((1L, 10L, "x", 1.0))))
      val schema =
        """{"type":"struct","schema-id":0,"fields":[
          |{"id":1,"name":"id","required":false,"type":"long"},
          |{"id":2,"name":"cust","required":false,
          |"initial-default":{"nid":0},"type":{"type":"struct","fields":[
          |{"id":4,"name":"nid","required":false,"type":"long"}]}}
          |]}""".stripMargin.replaceAll("\n", "")
      ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
        Seq(Snap(100L, None, 1L, "append", Seq(Data(fA, 1, 1L)))),
        formatVersion = 3, lastColumnId = 4)
      val e = intercept[IllegalArgumentException](
        IcebergImport.plan(spark, loc))
      assert(e.getMessage.contains("non-scalar") &&
        e.getMessage.contains("cust"), e.getMessage)
    }
  }

  // ------------------------------------------------------------------ //
  // ORC data files (r15 verdict #7): Spark reads ORC natively; the     //
  // import resolves ORC by NAME and serves MOR deletes over them via   //
  // _metadata.row_index exactly like parquet.                          //
  // ------------------------------------------------------------------ //

  test("ORC data files: a mixed parquet+ORC tree reads unioned with " +
      "schema-evolution NULLs, EQUALITY deletes apply over ORC rows, " +
      "and position deletes / lineage refuse LOUD (no ORC row_index)") {
    import ForeignFixtures.{Data, EqDel, PosDel, Snap}
    val loc = tmpDir("imp-orc") + "/ft"
    new java.io.File(loc).mkdirs()
    val fOrc = ForeignFixtures.writeOrc(spark, loc, "A",
      (1L to 5L).map(i => (i, s"v$i")).toDF("id", "v")
        .repartition(1).sortWithinPartitions("id"))
    val fPq = ForeignFixtures.writeParquet(spark, loc, "B",
      (6L to 8L).map(i => (i, s"v$i")).toDF("id", "v"))
    // equality delete kills id=2 (an ORC row) and id=7 (a parquet row)
    val fEq = ForeignFixtures.writeParquet(spark, loc, "eqdel",
      Seq(2L, 7L).map(Tuple1(_)).toDF("id"))
    // current schema has an evolved EXTRA column no file carries
    val schema = ForeignFixtures.schemaJson(0, Seq(
      (1, "id", "long"), (2, "v", "string"), (3, "extra", "double")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 2L, "overwrite", Seq(
        Data(fOrc, 5, 1L, format = "ORC"),
        Data(fPq, 3, 1L),
        EqDel(fEq, 2, 2L, Seq(1))))),
      lastColumnId = 3)
    val back = IcebergImport.read(spark, loc)
    assert(back.schema.fieldNames.toSeq === Seq("id", "v", "extra"))
    val got = back.orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.isNullAt(2)))
    assert(got.toSeq === Seq(1L, 3L, 4L, 5L, 6L, 8L).map(i =>
      (i, s"v$i", true)))

    // a POSITION delete over the same tree: loud refusal naming the
    // blocker (Spark ORC exposes no _metadata.row_index), not a
    // silent mis-read; lineage reads refuse identically
    val loc2 = tmpDir("imp-orc-pos") + "/ft"
    new java.io.File(loc2).mkdirs()
    val fOrc2 = ForeignFixtures.writeOrc(spark, loc2, "A",
      Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    val fPos = ForeignFixtures.writeParquet(spark, loc2, "posdel",
      Seq((fOrc2, 1L)).toDF("file_path", "pos"))
    val schema2 = ForeignFixtures.schemaJson(0, Seq(
      (1, "id", "long"), (2, "v", "string")))
    ForeignFixtures.writeTree(loc2, Seq(schema2), 0, Seq.empty,
      Seq(Snap(100L, None, 2L, "overwrite", Seq(
        Data(fOrc2, 2, 1L, format = "ORC"),
        PosDel(fPos, 1, 2L)))),
      lastColumnId = 2)
    val e = intercept[UnsupportedOperationException](
      IcebergImport.read(spark, loc2).collect())
    assert(e.getMessage.contains("row_index") &&
      e.getMessage.contains("ORC"), e.getMessage)
    val e2 = intercept[UnsupportedOperationException](
      IcebergImport.readLineage(spark, loc).collect())
    assert(e2.getMessage.contains("row_index"), e2.getMessage)
  }

  test("ORC data files: post-rename reads resolve pre-rename ORC " +
      "columns through name mapping; an ORC DELETE file refuses loud") {
    import ForeignFixtures.{Data, EqDel, Snap}
    // name-mapping resolution: file written with column `v`, current
    // schema names it `val` (id 2), mapping published for id 2
    val loc = tmpDir("imp-orc-rename") + "/ft"
    new java.io.File(loc).mkdirs()
    val fOrc = ForeignFixtures.writeOrc(spark, loc, "A",
      Seq((1L, "x"), (2L, "y")).toDF("id", "v"))
    val schema = ForeignFixtures.schemaJson(0, Seq(
      (1, "id", "long"), (2, "val", "string")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append",
        Seq(Data(fOrc, 2, 1L, format = "ORC")))),
      properties = Map("schema.name-mapping.default" ->
        """[{\"field-id\": 2, \"names\": [\"val\", \"v\"]}]"""),
      lastColumnId = 2)
    val back = IcebergImport.read(spark, loc)
    assert(back.schema.fieldNames.toSeq === Seq("id", "val"))
    assert(back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1))).toSeq === Seq((1L, "x"), (2L, "y")))

    // ORC-encoded DELETE file: loud refusal naming format and fix
    val loc2 = tmpDir("imp-orc-del") + "/ft"
    new java.io.File(loc2).mkdirs()
    val fA = ForeignFixtures.writeParquet(spark, loc2, "A",
      Seq((1L, "x")).toDF("id", "v"))
    val fEq = ForeignFixtures.writeOrc(spark, loc2, "eqdel",
      Seq(Tuple1(1L)).toDF("id"))
    val schema2 = ForeignFixtures.schemaJson(0, Seq(
      (1, "id", "long"), (2, "v", "string")))
    ForeignFixtures.writeTree(loc2, Seq(schema2), 0, Seq.empty,
      Seq(Snap(100L, None, 2L, "overwrite", Seq(
        Data(fA, 1, 1L),
        EqDel(fEq, 1, 2L, Seq(1), format = "ORC")))),
      lastColumnId = 2)
    val e = intercept[IllegalArgumentException](
      IcebergImport.plan(spark, loc2))
    assert(e.getMessage.contains("DELETE") &&
      e.getMessage.toLowerCase.contains("orc"), e.getMessage)
  }

  // ---------------------------------------------------------------- //
  // FOREIGN fixture: a metadata tree graft never writes.             //
  // ---------------------------------------------------------------- //

  private def writeAvro(path: String, schema: Schema,
      records: Seq[GenericRecord]): Long = {
    val w = new DataFileWriter[GenericRecord](
      new GenericDatumWriter[GenericRecord](schema))
    w.create(schema, new File(path))
    try records.foreach(w.append) finally w.close()
    new File(path).length()
  }

  /** Manifest-list schema: field order/names per spec, `content` and
    * `sequence_number` present (v2). */
  private val listSchema = new Schema.Parser().parse(
    """{"type":"record","name":"manifest_file","fields":[
      |{"name":"manifest_path","type":"string"},
      |{"name":"manifest_length","type":"long"},
      |{"name":"partition_spec_id","type":"int"},
      |{"name":"content","type":"int"},
      |{"name":"sequence_number","type":"long"},
      |{"name":"min_sequence_number","type":"long"},
      |{"name":"added_snapshot_id","type":"long"}
      |]}""".stripMargin)

  /** Foreign manifest-entry schema: NULLABLE sequence_number (exercises
    * v2 inheritance) and EXTRA stats fields (column_sizes, value_counts)
    * the importer must skip; identity partition tuple on `cat`. */
  private def foreignEntrySchema(withPart: Boolean,
      withEq: Boolean): Schema = {
    val part = if (withPart)
      """{"name":"cat","type":["null","string"],"default":null}""" else ""
    val eq = if (withEq)
      """,{"name":"equality_ids","type":["null",{"type":"array","items":"int"}],"default":null}"""
    else ""
    new Schema.Parser().parse(
      s"""{"type":"record","name":"manifest_entry","fields":[
        |{"name":"status","type":"int"},
        |{"name":"snapshot_id","type":["null","long"],"default":null},
        |{"name":"sequence_number","type":["null","long"],"default":null},
        |{"name":"data_file","type":{"type":"record","name":"r2","fields":[
        |  {"name":"content","type":"int"},
        |  {"name":"file_path","type":"string"},
        |  {"name":"file_format","type":"string"},
        |  {"name":"partition","type":{"type":"record","name":"r102","fields":[$part]}},
        |  {"name":"record_count","type":"long"},
        |  {"name":"file_size_in_bytes","type":"long"},
        |  {"name":"column_sizes","type":["null",{"type":"array","items":
        |    {"type":"record","name":"k117_v118","fields":[
        |      {"name":"key","type":"int"},{"name":"value","type":"long"}]}}],
        |   "default":null},
        |  {"name":"value_counts","type":["null",{"type":"array","items":
        |    {"type":"record","name":"k119_v120","fields":[
        |      {"name":"key","type":"int"},{"name":"value","type":"long"}]}}],
        |   "default":null},
        |  {"name":"null_value_counts","type":["null",{"type":"array","items":
        |    {"type":"record","name":"k121_v122","fields":[
        |      {"name":"key","type":"int"},{"name":"value","type":"long"}]}}],
        |   "default":null}$eq
        |]}}]}""".stripMargin)
  }

  private def entry(schema: Schema, status: Int, seq: Option[Long],
      content: Int, path: String, rows: Long, cat: Option[String] = None,
      eqIds: Seq[Int] = Seq.empty,
      nullCounts: Map[Int, Long] = Map.empty): GenericRecord = {
    val e = new GenericData.Record(schema)
    e.put("status", status)
    e.put("snapshot_id", 200L)
    seq.foreach(s => e.put("sequence_number", s))
    val df = new GenericData.Record(schema.getField("data_file").schema())
    df.put("content", content)
    df.put("file_path", path)
    df.put("file_format", "PARQUET")
    val part = new GenericData.Record(
      df.getSchema.getField("partition").schema())
    cat.foreach(c => part.put("cat", c))
    df.put("partition", part)
    df.put("record_count", rows)
    df.put("file_size_in_bytes", new File(
      new java.net.URI(path).getPath).length())
    // extra stats columns a real writer emits — importer must ignore
    val szSchema = df.getSchema.getField("column_sizes").schema()
      .getTypes.get(1).getElementType
    val sz = new GenericData.Record(szSchema)
    sz.put("key", 1); sz.put("value", 123L)
    df.put("column_sizes", Seq[GenericRecord](sz).asJava)
    if (eqIds.nonEmpty) df.put("equality_ids",
      eqIds.map(Int.box).asJava)
    if (nullCounts.nonEmpty) {
      val ncSchema = df.getSchema.getField("null_value_counts").schema()
        .getTypes.get(1).getElementType
      df.put("null_value_counts", nullCounts.toSeq.map { case (k, v) =>
        val r = new GenericData.Record(ncSchema)
        r.put("key", k); r.put("value", v)
        r: GenericRecord
      }.asJava)
    }
    e.put("data_file", df)
    e
  }

  /** Build the foreign tree:
    *  - snapshot 100 (schema-id 0: id,cat,v): v1-style INLINE `manifests`
    *    array, entries at explicit seq 1;
    *  - snapshot 200 (schema-id 1: id,cat,v,w — current): manifest list;
    *    data manifest with NULL entry seqs inheriting list seq 5 (file A:
    *    pre-evolve, no `w` column; file B: has `w`), one more data file at
    *    explicit seq 7, plus an equality-delete manifest at seq 6 on id —
    *    deleting from A/B (seq 5 < 6) but NOT from the seq-7 file;
    *  - metadata files `00001-*.json` (decoy old) and `00002-*.json`
    *    (current), NO version-hint.
    * Expected current rows: A∪B minus ids {2,4} plus the seq-7 file. */
  private def buildForeign(): (String, Long) = {
    val root = tmpDir("imp-foreign")
    val loc = s"$root/ft"
    val dataDir = new File(s"$loc/data"); dataDir.mkdirs()
    val metaDir = new File(s"$loc/metadata"); metaDir.mkdirs()
    def uri(p: String) = s"file://$p"

    def writeParquet(name: String, df: org.apache.spark.sql.DataFrame)
        : String = {
      val tmp = s"$root/stage-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new File(dataDir, s"$name.parquet")
      assert(part.renameTo(dest))
      uri(dest.getAbsolutePath)
    }
    // pre-evolve file (no w), written by the "old" writer; identity col
    // `cat` IS stored in the file (foreign writers store it)
    val fA = writeParquet("A",
      Seq((1L, "x", 1.0), (2L, "x", 2.0)).toDF("id", "cat", "v"))
    val fB = writeParquet("B",
      Seq((3L, "y", 3.0, 30L), (4L, "y", 4.0, 40L))
        .toDF("id", "cat", "v", "w"))
    val fC = writeParquet("C",
      Seq((2L, "x", 20.0, 200L), (5L, "y", 5.0, 50L))
        .toDF("id", "cat", "v", "w"))
    val fDel = writeParquet("D", Seq(2L, 4L).toDF("id"))

    // ---- snapshot 100: v1-style inline manifest (schema 0) ----
    val e1 = foreignEntrySchema(withPart = true, withEq = false)
    val m100 = s"${metaDir.getAbsolutePath}/m100.avro"
    writeAvro(m100, e1, Seq(
      entry(e1, 1, Some(1L), 0, fA, 2, cat = Some("x"))))

    // ---- snapshot 200: manifest list + inheritance + deletes ----
    val mData = s"${metaDir.getAbsolutePath}/m200-data.avro"
    val dataLen = writeAvro(mData, e1, Seq(
      entry(e1, 1, None, 0, fA, 2, cat = Some("x")), // inherits seq 5
      entry(e1, 1, None, 0, fB, 2, cat = Some("y")), // inherits seq 5
      entry(e1, 1, Some(7L), 0, fC, 2, cat = Some("x"))))
    val eDel = foreignEntrySchema(withPart = false, withEq = true)
    val mDel = s"${metaDir.getAbsolutePath}/m200-del.avro"
    val delLen = writeAvro(mDel, eDel, Seq(
      entry(eDel, 1, Some(6L), 2, fDel, 2, eqIds = Seq(1))))
    def listEntry(path: String, len: Long, content: Int, seq: Long)
        : GenericRecord = {
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", uri(path))
      r.put("manifest_length", len)
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", seq)
      r.put("min_sequence_number", seq)
      r.put("added_snapshot_id", 200L)
      r
    }
    val list200 = s"${metaDir.getAbsolutePath}/snap-200.avro"
    writeAvro(list200, listSchema, Seq(
      listEntry(mData, dataLen, 0, 5L),
      listEntry(mDel, delLen, 1, 6L)))

    val schema0 =
      """{"type":"struct","schema-id":0,"fields":[
        |{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"cat","required":false,"type":"string"},
        |{"id":3,"name":"v","required":false,"type":"double"}]}"""
        .stripMargin.replaceAll("\n", "")
    val schema1 =
      """{"type":"struct","schema-id":1,"fields":[
        |{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"cat","required":false,"type":"string"},
        |{"id":3,"name":"v","required":false,"type":"double"},
        |{"id":4,"name":"w","required":false,"type":"long"}]}"""
        .stripMargin.replaceAll("\n", "")
    def metaJson(currentSnap: Long): String =
      s"""{
        |"format-version": 2,
        |"table-uuid": "00000000-0000-0000-0000-000000000001",
        |"location": "${uri(loc)}",
        |"last-sequence-number": 7,
        |"last-updated-ms": 1700000000000,
        |"last-column-id": 4,
        |"current-schema-id": 1,
        |"schemas": [$schema0, $schema1],
        |"default-spec-id": 0,
        |"partition-specs": [{"spec-id": 0, "fields": [
        |  {"name": "cat", "transform": "identity", "source-id": 2, "field-id": 1000}]}],
        |"last-partition-id": 1000,
        |"default-sort-order-id": 0,
        |"sort-orders": [{"order-id": 0, "fields": []}],
        |"properties": {},
        |"current-snapshot-id": $currentSnap,
        |"refs": {"main": {"snapshot-id": $currentSnap, "type": "branch"},
        |         "old": {"snapshot-id": 100, "type": "tag"}},
        |"snapshots": [
        |  {"sequence-number": 1, "snapshot-id": 100,
        |   "timestamp-ms": 1690000000000,
        |   "summary": {"operation": "append"}, "schema-id": 0,
        |   "manifests": ["${uri(m100)}"]},
        |  {"sequence-number": 7, "snapshot-id": 200,
        |   "timestamp-ms": 1700000000000,
        |   "summary": {"operation": "append"}, "schema-id": 1,
        |   "manifest-list": "${uri(list200)}"}
        |],
        |"snapshot-log": [], "metadata-log": []
        |}""".stripMargin
    // decoy OLD metadata (current = snapshot 100) + the real current one;
    // no version-hint — resolution must pick 00002 by version number
    java.nio.file.Files.write(
      java.nio.file.Paths.get(metaDir.getAbsolutePath,
        "00001-aaaaaaaa.metadata.json"),
      metaJson(100).getBytes("UTF-8"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(metaDir.getAbsolutePath,
        "00002-bbbbbbbb.metadata.json"),
      metaJson(200).getBytes("UTF-8"))
    (loc, 200L)
  }

  test("foreign tree: metastore naming without version-hint, sequence " +
      "inheritance, extra manifest columns, per-snapshot schema ids, " +
      "v1 inline manifests") {
    val (loc, cur) = buildForeign()
    val p = IcebergImport.plan(spark, loc)
    assert(p.snapshotId === cur)
    assert(p.schema.fieldNames.toSeq === Seq("id", "cat", "v", "w"))
    // inheritance: A and B carry the list seq 5; C keeps its explicit 7
    assert(p.files.map(_.seq).sorted === Seq(5L, 5L, 7L))
    assert(p.deletes.size === 1)
    assert(p.deletes.head.seq === 6L)
    assert(p.deletes.head.equalityCols === Some(Seq("id")))
    assert(p.deletes.head.scope.isEmpty &&
      p.deletes.head.transformScope.isEmpty)
    assert(p.deletes.head.bytes > 0L,
      "delete refs must carry manifest-recorded bytes (broadcast gate)")

    val rows = IcebergImport.read(spark, loc)
      .orderBy("id").collect().map(r =>
        (r.getLong(0), r.getString(1), r.getDouble(2),
          if (r.isNullAt(3)) -1L else r.getLong(3)))
    // eq-delete {2,4} at seq 6 kills A/B rows (seq 5) but NOT C (seq 7);
    // pre-evolve file A reads w as NULL (-1 sentinel here)
    assert(rows === Seq(
      (1L, "x", 1.0, -1L),     // A survives (id 1 not deleted)
      (2L, "x", 20.0, 200L),   // C's id=2 survives: seq 7 > delete seq 6
      (3L, "y", 3.0, 30L),     // B survives
      (5L, "y", 5.0, 50L)))    // C

    // time travel by tag to the v1-style snapshot: old schema (no w),
    // inline manifest array, seq floor
    val old = IcebergImport.read(spark, loc, Some("old"))
    assert(old.schema.fieldNames.toSeq === Seq("id", "cat", "v"))
    assert(old.orderBy("id").collect().map(_.getLong(0)).toSeq ===
      Seq(1L, 2L))
  }

  test("foreign tree: version-hint wins when present and valid") {
    val (loc, _) = buildForeign()
    // add a v3 named in the OTHER family plus a hint pointing at it
    val metaDir = s"$loc/metadata"
    val src = new File(metaDir).listFiles()
      .find(_.getName.startsWith("00001")).get
    java.nio.file.Files.copy(src.toPath,
      java.nio.file.Paths.get(metaDir, "v3.metadata.json"))
    java.nio.file.Files.write(
      java.nio.file.Paths.get(metaDir, "version-hint.text"),
      "3".getBytes("UTF-8"))
    // hint → v3 → that file's current snapshot is 100 (2 rows)
    assert(IcebergImport.read(spark, loc).count() === 2)
  }

  test("ORC data files carrying NESTED columns read name-resolved " +
      "(Spark's ORC reader handles structs/lists natively) in a mixed " +
      "parquet+ORC tree") {
    import ForeignFixtures.{Data, Snap}
    import org.apache.spark.sql.types._
    val loc = tmpDir("imp-orc-nested") + "/ft"
    new java.io.File(loc).mkdirs()
    def meta(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = true, meta(1)),
      StructField("cust", StructType(Seq(
        StructField("nid", LongType, nullable = true, meta(4)))),
        nullable = true, meta(2)),
      StructField("xs", ArrayType(LongType), nullable = true, meta(3))))
    def frame(lo: Long, hi: Long) = spark.createDataFrame(
      (lo to hi).map(i => org.apache.spark.sql.Row(
        i, org.apache.spark.sql.Row(i * 10), Seq(i, i + 1))).asJava, sch)
    val fOrc = ForeignFixtures.writeOrc(spark, loc, "even", frame(1L, 5L))
    val fPq = ForeignFixtures.writeParquet(spark, loc, "odd",
      frame(6L, 10L))
    ForeignFixtures.writeTree(loc, Seq(ForeignFixtures.schemaJsonTyped(0,
      Seq((1, "id", "\"long\""),
        (2, "cust", ForeignFixtures.structType(
          Seq((4, "nid", "\"long\"")))),
        (3, "xs", ForeignFixtures.listType(5, "\"long\""))))),
      0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(
        Data(fOrc, 5L, 1L, format = "ORC"), Data(fPq, 5L, 1L)))),
      lastColumnId = 5)
    val got = IcebergImport.read(spark, loc)
      .select($"id", $"cust.nid".as("nid"),
        element_at($"xs", 2).as("x2"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === (1L to 10L).map(i => (i, i * 10, i + 1)))
  }

  test("SQL surface: CALL graft.import_iceberg materializes a NESTED " +
      "foreign tree into a graft table (struct + list columns survive " +
      "the materialization and the graft lifecycle)") {
    import ForeignFixtures.{Data, Snap}
    import org.apache.spark.sql.types._
    val loc = tmpDir("imp-call-nested") + "/ft"
    new java.io.File(loc).mkdirs()
    def meta(id: Long) = new MetadataBuilder()
      .putLong("parquet.field.id", id).build()
    val sch = StructType(Seq(
      StructField("id", LongType, nullable = true, meta(1)),
      StructField("cust", StructType(Seq(
        StructField("nid", LongType, nullable = true, meta(4)))),
        nullable = true, meta(2)),
      StructField("xs", ArrayType(LongType), nullable = true, meta(3))))
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      spark.createDataFrame((1L to 8L).map(i => org.apache.spark.sql.Row(
        i, org.apache.spark.sql.Row(i * 10), Seq(i, i * 2))).asJava, sch))
    ForeignFixtures.writeTree(loc, Seq(ForeignFixtures.schemaJsonTyped(0,
      Seq((1, "id", "\"long\""),
        (2, "cust", ForeignFixtures.structType(
          Seq((4, "nid", "\"long\"")))),
        (3, "xs", ForeignFixtures.listType(5, "\"long\""))))),
      0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(fA, 8L, 1L)))),
      lastColumnId = 5)
    val dest = tmpDir("imp-call-nested-dst") + "/t"
    spark.sql(s"CALL graft.import_iceberg('$dest', source => '$loc')")
      .collect()
    val d = GraftTable(spark, dest)
    val got = d.read().select($"id", $"cust.nid".as("nid"),
        element_at($"xs", 1).as("x1"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(got.toSeq === (1L to 8L).map(i => (i, i * 10, i)))
    // the materialized graft table keeps working as a table: an append
    // with the same nested shape commits and reads back
    val destSchema = d.read().limit(0).schema
    d.append(spark.createDataFrame(
      Seq(org.apache.spark.sql.Row(9L,
        org.apache.spark.sql.Row(90L), Seq(9L, 18L))).asJava, destSchema))
    assert(d.read().count() === 9L)
  }

  test("SQL surface: CALL graft.import_iceberg materializes a foreign " +
      "tree into a path destination") {
    val t = GraftTable(spark, tmpDir("imp-call") + "/t")
    t.append((1L to 25L).map(i => (i, s"c${i % 2}", i * 1.0))
      .toDF("id", "cat", "v"), parts = Seq("cat"))
    IcebergExport.export(spark, t)
    val dest = tmpDir("imp-call-dst") + "/t"
    val res = spark.sql(
      s"CALL graft.import_iceberg('$dest', source => '${t.location}')")
      .collect()
    assert(res.length === 1 && res(0).getLong(0) >= 0L)
    val d = GraftTable(spark, dest)
    assert(d.read().orderBy("id").select("id", "cat", "v").collect() ===
      t.read().orderBy("id").select("id", "cat", "v").collect())
    assert(d.partitionFields.map(_.source) === Seq("cat"))
  }

  test("SQL surface: CALL graft.import_iceberg_changes appends the " +
      "foreign append-delta since the given snapshot") {
    val t = GraftTable(spark, tmpDir("imp-callinc") + "/t")
    t.append((1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v"))
    val s1 = t.latestSnapshotId.get
    IcebergExport.export(spark, t, history = 4)
    val dest = tmpDir("imp-callinc-dst") + "/t"
    spark.sql(
      s"CALL graft.import_iceberg('$dest', source => '${t.location}')")
    t.append((11L to 15L).map(i => (i, i * 1.0)).toDF("id", "v"))
    IcebergExport.export(spark, t, history = 4)
    val res = spark.sql(
      s"CALL graft.import_iceberg_changes('$dest', " +
        s"source => '${t.location}', since => $s1)").collect()
    assert(res.length === 1 && res(0).getLong(0) >= 0L)
    assert(GraftTable(spark, dest).read().select("id").orderBy("id")
      .collect().map(_.getLong(0)).toSeq === (1L to 15L))
    // missing since → loud
    val e = intercept[Exception](spark.sql(
      s"CALL graft.import_iceberg_changes('$dest', " +
        s"source => '${t.location}')").collect())
    assert(e.getMessage.contains("since"))
  }

  test("null-count pruning: readWhere skips zero-null files for IS NULL " +
      "and all-null files for IS NOT NULL, results exact; missing " +
      "counts never prune") {
    val root = tmpDir("imp-nullcnt")
    val loc = s"$root/ft"
    val dataDir = new File(s"$loc/data"); dataDir.mkdirs()
    val metaDir = new File(s"$loc/metadata"); metaDir.mkdirs()
    def uri(p: String) = s"file://$p"
    def writeParquet(name: String, df: org.apache.spark.sql.DataFrame)
        : String = {
      val tmp = s"$root/stage-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new File(dataDir, s"$name.parquet")
      assert(part.renameTo(dest))
      uri(dest.getAbsolutePath)
    }
    // A: v never null (count 0); B: v ALL null (count 2); C: mixed
    // (count 1); D: NO recorded counts — must never be pruned
    val fA = writeParquet("A", Seq((1L, "x", Some(1.0)),
      (2L, "x", Some(2.0))).toDF("id", "cat", "v"))
    val fB = writeParquet("B", Seq((3L, "x", None: Option[Double]),
      (4L, "x", None: Option[Double])).toDF("id", "cat", "v"))
    val fC = writeParquet("C", Seq((5L, "x", Some(5.0)),
      (6L, "x", None: Option[Double])).toDF("id", "cat", "v"))
    val fD = writeParquet("D", Seq((7L, "x", Some(7.0)))
      .toDF("id", "cat", "v"))
    val e1 = foreignEntrySchema(withPart = false, withEq = false)
    val mData = s"${metaDir.getAbsolutePath}/m-data.avro"
    val dataLen = writeAvro(mData, e1, Seq(
      entry(e1, 1, Some(1L), 0, fA, 2, nullCounts = Map(3 -> 0L)),
      entry(e1, 1, Some(1L), 0, fB, 2, nullCounts = Map(3 -> 2L)),
      entry(e1, 1, Some(1L), 0, fC, 2, nullCounts = Map(3 -> 1L)),
      entry(e1, 1, Some(1L), 0, fD, 1)))
    def listEntry0(path: String, len: Long): GenericRecord = {
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", uri(path))
      r.put("manifest_length", len)
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("sequence_number", 1L)
      r.put("min_sequence_number", 1L)
      r.put("added_snapshot_id", 100L)
      r
    }
    val list = s"${metaDir.getAbsolutePath}/snap-100.avro"
    writeAvro(list, listSchema, Seq(listEntry0(mData, dataLen)))
    val metaJson =
      s"""{"format-version": 2,
        |"table-uuid": "00000000-0000-0000-0000-000000000003",
        |"location": "${uri(loc)}", "last-sequence-number": 1,
        |"last-updated-ms": 1700000000000, "last-column-id": 3,
        |"current-schema-id": 0,
        |"schemas": [{"type":"struct","schema-id":0,"fields":[
        |  {"id":1,"name":"id","required":false,"type":"long"},
        |  {"id":2,"name":"cat","required":false,"type":"string"},
        |  {"id":3,"name":"v","required":false,"type":"double"}]}],
        |"default-spec-id": 0,
        |"partition-specs": [{"spec-id": 0, "fields": []}],
        |"last-partition-id": 999, "default-sort-order-id": 0,
        |"sort-orders": [{"order-id": 0, "fields": []}],
        |"properties": {}, "current-snapshot-id": 100,
        |"refs": {"main": {"snapshot-id": 100, "type": "branch"}},
        |"snapshots": [{"sequence-number": 1, "snapshot-id": 100,
        |  "timestamp-ms": 1700000000000,
        |  "summary": {"operation": "append"}, "schema-id": 0,
        |  "manifest-list": "${uri(list)}"}],
        |"snapshot-log": [], "metadata-log": []}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(
      metaDir.getAbsolutePath, "00001-nullcnt.metadata.json"),
      metaJson.getBytes("UTF-8"))

    val p = IcebergImport.plan(spark, loc)
    assert(p.files.size === 4)
    assert(p.files.find(_.uri == fB).get.nullCounts === Map("v" -> 2L))

    // IS NULL: skip A (zero nulls); keep B, C, and the count-less D
    val isNull = IcebergImport.readWhere(spark, loc, col("v").isNull)
    assert(isNull.select("id").collect().map(_.getLong(0)).sorted ===
      Array(3L, 4L, 6L))
    assert(isNull.inputFiles.length === 3)
    // IS NOT NULL: skip only the all-null B
    val notNull = IcebergImport.readWhere(spark, loc, col("v").isNotNull)
    assert(notNull.select("id").collect().map(_.getLong(0)).sorted ===
      Array(1L, 2L, 5L, 7L))
    assert(notNull.inputFiles.length === 3)
    // composed with a range conjunct: both prune together
    val both = IcebergImport.readWhere(spark, loc,
      col("v").isNotNull && col("id") >= 5L)
    assert(both.select("id").collect().map(_.getLong(0)).sorted ===
      Array(5L, 7L))
  }

  test("graft's OWN export carries null_value_counts from footer stats " +
      "and the importer null-prunes its round trip") {
    val t = GraftTable(spark, tmpDir("imp-nullrt") + "/t")
    t.append(Seq((1L, Option(1.0)), (2L, Option(2.0)))
      .toDF("id", "v").repartition(1)) // zero nulls
    t.append(Seq((3L, None: Option[Double]), (4L, None: Option[Double]))
      .toDF("id", "v").repartition(1)) // ALL null
    t.append(Seq((5L, Option(5.0)), (6L, None: Option[Double]))
      .toDF("id", "v").repartition(1)) // mixed
    IcebergExport.export(spark, t, history = 4)
    val p = IcebergImport.plan(spark, t.location)
    assert(p.files.size === 3)
    assert(p.files.map(_.nullCounts.get("v")).toSet ===
      Set(Some(0L), Some(2L), Some(1L)))
    val isNull = IcebergImport.readWhere(spark, t.location,
      col("v").isNull)
    assert(isNull.select("id").collect().map(_.getLong(0)).sorted ===
      Array(3L, 4L, 6L))
    assert(isNull.inputFiles.length === 2)
    val notNull = IcebergImport.readWhere(spark, t.location,
      col("v").isNotNull)
    assert(notNull.select("id").collect().map(_.getLong(0)).sorted ===
      Array(1L, 2L, 5L))
    assert(notNull.inputFiles.length === 2)
    // the external reader is untouched by the extra stats field
    val path = new java.net.URI("file://" + t.location).getPath
    val out = scala.sys.process.Process(Seq("python3",
      "tools/read_iceberg_duckdb.py", path,
      "SELECT COUNT(*) AS n FROM t WHERE v IS NOT NULL")).!!
    assert(out.trim.split("\n").last === "3")
  }

  test("partition-SCOPED equality deletes (v2: a partitioned delete " +
      "file applies only within its partition) do not over-delete " +
      "matching keys in other partitions") {
    val root = tmpDir("imp-scoped")
    val loc = s"$root/ft"
    val dataDir = new File(s"$loc/data"); dataDir.mkdirs()
    val metaDir = new File(s"$loc/metadata"); metaDir.mkdirs()
    def uri(p: String) = s"file://$p"
    def writeParquet(name: String, df: org.apache.spark.sql.DataFrame)
        : String = {
      val tmp = s"$root/stage-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new File(dataDir, s"$name.parquet")
      assert(part.renameTo(dest))
      uri(dest.getAbsolutePath)
    }
    // id=2 exists in BOTH partitions; the delete is scoped to cat=x
    val fA = writeParquet("A",
      Seq((1L, "x", 1.0), (2L, "x", 2.0)).toDF("id", "cat", "v"))
    val fB = writeParquet("B",
      Seq((2L, "y", 20.0), (3L, "y", 3.0)).toDF("id", "cat", "v"))
    val fDel = writeParquet("D", Seq(2L).toDF("id"))
    val e1 = foreignEntrySchema(withPart = true, withEq = false)
    val mData = s"${metaDir.getAbsolutePath}/m-data.avro"
    val dataLen = writeAvro(mData, e1, Seq(
      entry(e1, 1, Some(1L), 0, fA, 2, cat = Some("x")),
      entry(e1, 1, Some(1L), 0, fB, 2, cat = Some("y"))))
    val eDel = foreignEntrySchema(withPart = true, withEq = true)
    val mDel = s"${metaDir.getAbsolutePath}/m-del.avro"
    val delLen = writeAvro(mDel, eDel, Seq(
      entry(eDel, 1, Some(2L), 2, fDel, 1, cat = Some("x"),
        eqIds = Seq(1))))
    def listEntry(path: String, len: Long, content: Int, seq: Long)
        : GenericRecord = {
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", uri(path))
      r.put("manifest_length", len)
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", seq)
      r.put("min_sequence_number", seq)
      r.put("added_snapshot_id", 100L)
      r
    }
    val list = s"${metaDir.getAbsolutePath}/snap-100.avro"
    writeAvro(list, listSchema, Seq(
      listEntry(mData, dataLen, 0, 1L), listEntry(mDel, delLen, 1, 2L)))
    val metaJson =
      s"""{"format-version": 2,
        |"table-uuid": "00000000-0000-0000-0000-000000000002",
        |"location": "${uri(loc)}", "last-sequence-number": 2,
        |"last-updated-ms": 1700000000000, "last-column-id": 3,
        |"current-schema-id": 0,
        |"schemas": [{"type":"struct","schema-id":0,"fields":[
        |  {"id":1,"name":"id","required":false,"type":"long"},
        |  {"id":2,"name":"cat","required":false,"type":"string"},
        |  {"id":3,"name":"v","required":false,"type":"double"}]}],
        |"default-spec-id": 0,
        |"partition-specs": [{"spec-id": 0, "fields": [
        |  {"name": "cat", "transform": "identity", "source-id": 2,
        |   "field-id": 1000}]}],
        |"last-partition-id": 1000, "default-sort-order-id": 0,
        |"sort-orders": [{"order-id": 0, "fields": []}],
        |"properties": {}, "current-snapshot-id": 100,
        |"refs": {"main": {"snapshot-id": 100, "type": "branch"}},
        |"snapshots": [{"sequence-number": 2, "snapshot-id": 100,
        |  "timestamp-ms": 1700000000000,
        |  "summary": {"operation": "append"}, "schema-id": 0,
        |  "manifest-list": "${uri(list)}"}],
        |"snapshot-log": [], "metadata-log": []}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(
      metaDir.getAbsolutePath, "00001-scoped.metadata.json"),
      metaJson.getBytes("UTF-8"))

    val p = IcebergImport.plan(spark, loc)
    assert(p.deletes.head.scope === Map("cat" -> "x"))
    val got = IcebergImport.read(spark, loc).orderBy("id", "cat")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // id=2 in cat=x deleted; id=2 in cat=y SURVIVES the scoped delete
    assert(got.toSeq === Seq(
      (1L, "x", 1.0), (2L, "y", 20.0), (3L, "y", 3.0)))
  }

  test("field-id column resolution: a RENAMED column reads pre-rename " +
      "files by id, a drop+re-add (same name, NEW id) reads NULL from " +
      "old files, and an id-LESS delete file over id-ful data still " +
      "applies (per-group name fallback)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = tmpDir("imp-fid")
    val loc = s"$root/ft"
    val dataDir = new File(s"$loc/data"); dataDir.mkdirs()
    val metaDir = new File(s"$loc/metadata"); metaDir.mkdirs()
    def uri(p: String) = s"file://$p"
    def idField(name: String, t: DataType, id: Long) =
      StructField(name, t, nullable = true,
        new MetadataBuilder().putLong("parquet.field.id", id).build())
    def writeParquet(name: String, df: org.apache.spark.sql.DataFrame)
        : String = {
      val tmp = s"$root/stage-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new File(dataDir, s"$name.parquet")
      assert(part.renameTo(dest))
      uri(dest.getAbsolutePath)
    }
    val prevWrite = spark.conf.getOption(
      "spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val (fA, fB, fDel) = try {
      // pre-evolve writer: name_old@2, flag@3 (flag later dropped and
      // re-added as id 7 — these bytes must NOT resurrect)
      val sA = StructType(Seq(idField("id", LongType, 1L),
        idField("name_old", StringType, 2L), idField("flag", LongType, 3L)))
      val fA = writeParquet("A", spark.createDataFrame(
        Seq(Row(1L, "a", 99L), Row(2L, "b", 98L)).asJava, sA))
      // post-evolve writer: field 2 renamed, flag re-added as id 7
      val sB = StructType(Seq(idField("id", LongType, 1L),
        idField("name_new", StringType, 2L), idField("flag", LongType, 7L)))
      val fB = writeParquet("B", spark.createDataFrame(
        Seq(Row(3L, "c", 7L)).asJava, sB))
      // equality-delete parquet WITHOUT field ids (e.g. an adopted
      // engine's writer): the importer must fall back to name matching
      // for THIS group while the data scan stays id-resolved
      spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "false")
      val fDel = writeParquet("D", Seq(2L).toDF("id"))
      (fA, fB, fDel)
    } finally prevWrite match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
    }
    val e1 = foreignEntrySchema(withPart = false, withEq = false)
    val mData = s"${metaDir.getAbsolutePath}/m-data.avro"
    val dataLen = writeAvro(mData, e1, Seq(
      entry(e1, 1, Some(1L), 0, fA, 2),
      entry(e1, 1, Some(1L), 0, fB, 1)))
    val eDel = foreignEntrySchema(withPart = false, withEq = true)
    val mDel = s"${metaDir.getAbsolutePath}/m-del.avro"
    val delLen = writeAvro(mDel, eDel, Seq(
      entry(eDel, 1, Some(2L), 2, fDel, 1, eqIds = Seq(1))))
    def listEntry(path: String, len: Long, content: Int, seq: Long)
        : GenericRecord = {
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", uri(path))
      r.put("manifest_length", len)
      r.put("partition_spec_id", 0)
      r.put("content", content)
      r.put("sequence_number", seq)
      r.put("min_sequence_number", seq)
      r.put("added_snapshot_id", 100L)
      r
    }
    val list = s"${metaDir.getAbsolutePath}/snap-100.avro"
    writeAvro(list, listSchema, Seq(
      listEntry(mData, dataLen, 0, 1L), listEntry(mDel, delLen, 1, 2L)))
    // current schema: id@1, name_NEW@2 (rename), flag@7 (drop+re-add)
    val metaJson =
      s"""{"format-version": 2,
        |"table-uuid": "00000000-0000-0000-0000-000000000003",
        |"location": "${uri(loc)}", "last-sequence-number": 2,
        |"last-updated-ms": 1700000000000, "last-column-id": 7,
        |"current-schema-id": 1,
        |"schemas": [{"type":"struct","schema-id":1,"fields":[
        |  {"id":1,"name":"id","required":false,"type":"long"},
        |  {"id":2,"name":"name_new","required":false,"type":"string"},
        |  {"id":7,"name":"flag","required":false,"type":"long"}]}],
        |"default-spec-id": 0,
        |"partition-specs": [{"spec-id": 0, "fields": []}],
        |"last-partition-id": 999, "default-sort-order-id": 0,
        |"sort-orders": [{"order-id": 0, "fields": []}],
        |"properties": {}, "current-snapshot-id": 100,
        |"refs": {"main": {"snapshot-id": 100, "type": "branch"}},
        |"snapshots": [{"sequence-number": 2, "snapshot-id": 100,
        |  "timestamp-ms": 1700000000000,
        |  "summary": {"operation": "append"}, "schema-id": 1,
        |  "manifest-list": "${uri(list)}"}],
        |"snapshot-log": [], "metadata-log": []}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(
      metaDir.getAbsolutePath, "00001-fid.metadata.json"),
      metaJson.getBytes("UTF-8"))

    val back = IcebergImport.read(spark, loc)
    // result schema is plain (no field-id metadata leaks downstream)
    assert(back.schema.forall(_.metadata == Metadata.empty))
    val got = back.orderBy("id").collect().map(r =>
      (r.getLong(0), r.getString(1),
        if (r.isNullAt(2)) null else r.getLong(2)))
    // id=2 equality-deleted (id-less delete file applied by name);
    // name_new reads A's name_old bytes BY ID; A's old flag@3 does NOT
    // leak into the re-added flag@7; B reads everything
    assert(got.toSeq === Seq((1L, "a", null), (3L, "c", 7L)))
  }

  test("incremental follow: readChanges returns exactly the append-range " +
      "delta, importChangesInto tails a dest table to equality, and " +
      "ranges crossing a non-append commit or an unknown baseline are " +
      "refused") {
    val src = GraftTable(spark, tmpDir("imp-inc-src") + "/t")
    src.append((1L to 20L).map(i => (i, s"c${i % 2}", i * 1.0))
      .toDF("id", "cat", "v"), parts = Seq("cat"))
    val s1 = src.latestSnapshotId.get
    IcebergExport.export(spark, src, history = 4)
    // dest bootstrapped from the first export
    val dest = IcebergImport.importInto(spark, src.location,
      tmpDir("imp-inc-dst") + "/t")
    assert(dest.read().count() === 20)
    // source moves on: two more appends, re-export
    src.append((21L to 30L).map(i => (i, s"c${i % 2}", i * 1.0))
      .toDF("id", "cat", "v"))
    src.append((31L to 35L).map(i => (i, s"c${i % 2}", i * 1.0))
      .toDF("id", "cat", "v"))
    IcebergExport.export(spark, src, history = 4)
    val delta = IcebergImport.readChanges(spark, src.location, s1)
    // exactly the two appended batches, identity partition col included
    assert(delta.select("id").orderBy("id").collect().map(_.getLong(0))
      .toSeq === (21L to 35L))
    assert(delta.filter(col("cat").isNull).count() === 0)
    // empty range: since == target
    assert(IcebergImport.readChanges(spark, src.location,
      src.latestSnapshotId.get).count() === 0)
    // tail the dest to equality
    IcebergImport.importChangesInto(spark, src.location, dest, s1)
    assert(dest.read().orderBy("id").select("id", "cat", "v").collect() ===
      src.read().orderBy("id").select("id", "cat", "v").collect())
    // a merge in range → refused (cannot be expressed as append delta)
    val s3 = src.latestSnapshotId.get
    src.merge(Seq((1L, "cZ", -1.0)).toDF("id", "cat", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id")
    IcebergExport.export(spark, src, history = 6)
    val eNonAppend = intercept[IllegalArgumentException](
      IcebergImport.readChanges(spark, src.location, s3))
    assert(eNonAppend.getMessage.contains("non-append"))
    // unknown / expired baseline → refused with full-import guidance
    val eUnknown = intercept[IllegalArgumentException](
      IcebergImport.readChanges(spark, src.location, 424242L))
    assert(eUnknown.getMessage.contains("full import"))
  }

  test("MIXED tree (adopted id-less files + native id-ful files) " +
      "resolves per-file: legacy files through schema.name-mapping." +
      "default aliases, native files by field id") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val root = tmpDir("imp-mixed")
    val loc = s"$root/ft"
    val dataDir = new File(s"$loc/data"); dataDir.mkdirs()
    val metaDir = new File(s"$loc/metadata"); metaDir.mkdirs()
    def uri(p: String) = s"file://$p"
    def writeParquet(name: String, df: org.apache.spark.sql.DataFrame)
        : String = {
      val tmp = s"$root/stage-$name"
      df.coalesce(1).write.parquet(tmp)
      val part = new File(tmp).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val dest = new File(dataDir, s"$name.parquet")
      assert(part.renameTo(dest))
      uri(dest.getAbsolutePath)
    }
    // adopted legacy file: NO field ids, legacy column names pk/val
    val fA = writeParquet("A",
      Seq((1L, 1.0), (2L, 2.0)).toDF("pk", "val"))
    // native file: field ids, current names
    val prevWrite = spark.conf.getOption(
      "spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val fB = try {
      def idField(name: String, t: DataType, id: Long) =
        StructField(name, t, nullable = true,
          new MetadataBuilder().putLong("parquet.field.id", id).build())
      writeParquet("B", spark.createDataFrame(
        Seq(Row(3L, 3.0)).asJava,
        StructType(Seq(idField("id", LongType, 1L),
          idField("v", DoubleType, 2L)))))
    } finally prevWrite match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
    }
    val e1 = foreignEntrySchema(withPart = false, withEq = false)
    val mData = s"${metaDir.getAbsolutePath}/m-data.avro"
    val dataLen = writeAvro(mData, e1, Seq(
      entry(e1, 1, Some(1L), 0, fA, 2),
      entry(e1, 1, Some(2L), 0, fB, 1)))
    def listEntry(path: String, len: Long): GenericRecord = {
      val r = new GenericData.Record(listSchema)
      r.put("manifest_path", uri(path))
      r.put("manifest_length", len)
      r.put("partition_spec_id", 0)
      r.put("content", 0)
      r.put("sequence_number", 2L)
      r.put("min_sequence_number", 1L)
      r.put("added_snapshot_id", 100L)
      r
    }
    val list = s"${metaDir.getAbsolutePath}/snap-100.avro"
    writeAvro(list, listSchema, Seq(listEntry(mData, dataLen)))
    val mapping =
      """[{\"field-id\":1,\"names\":[\"pk\",\"id\"]},""" +
        """{\"field-id\":2,\"names\":[\"val\",\"v\"]}]"""
    val metaJson =
      s"""{"format-version": 2,
        |"table-uuid": "00000000-0000-0000-0000-000000000004",
        |"location": "${uri(loc)}", "last-sequence-number": 2,
        |"last-updated-ms": 1700000000000, "last-column-id": 2,
        |"current-schema-id": 0,
        |"schemas": [{"type":"struct","schema-id":0,"fields":[
        |  {"id":1,"name":"id","required":false,"type":"long"},
        |  {"id":2,"name":"v","required":false,"type":"double"}]}],
        |"default-spec-id": 0,
        |"partition-specs": [{"spec-id": 0, "fields": []}],
        |"last-partition-id": 999, "default-sort-order-id": 0,
        |"sort-orders": [{"order-id": 0, "fields": []}],
        |"properties": {"schema.name-mapping.default": "$mapping"},
        |"current-snapshot-id": 100,
        |"refs": {"main": {"snapshot-id": 100, "type": "branch"}},
        |"snapshots": [{"sequence-number": 2, "snapshot-id": 100,
        |  "timestamp-ms": 1700000000000,
        |  "summary": {"operation": "append"}, "schema-id": 0,
        |  "manifest-list": "${uri(list)}"}],
        |"snapshot-log": [], "metadata-log": []}""".stripMargin
    java.nio.file.Files.write(java.nio.file.Paths.get(
      metaDir.getAbsolutePath, "00001-mixed.metadata.json"),
      metaJson.getBytes("UTF-8"))

    val p = IcebergImport.plan(spark, loc)
    assert(p.nameMapping === Map(1 -> Seq("pk", "id"),
      2 -> Seq("val", "v")))
    val got = IcebergImport.read(spark, loc).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getDouble(1)))
    assert(got.toSeq === Seq((1L, 1.0), (2L, 2.0), (3L, 3.0)))
  }

  test("foreign metadata views: .snapshots lineage/ops and .files with " +
      "sequence numbers + identity tuples") {
    val t = GraftTable(spark, tmpDir("imp-meta") + "/t")
    t.append((1L to 10L).map(i => (i, s"c${i % 2}", i * 1.0))
      .toDF("id", "cat", "v"), parts = Seq("cat"))
    t.append((11L to 14L).map(i => (i, s"c${i % 2}", i * 1.0))
      .toDF("id", "cat", "v"))
    t.merge(Seq((1L, "cZ", 0.0)).toDF("id", "cat", "v"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id")
    IcebergExport.export(spark, t, history = 6)
    val snaps = IcebergImport.snapshots(spark, t.location)
      .orderBy("committed_at", "snapshot_id").collect()
    assert(snaps.length >= 3)
    assert(snaps.take(2).map(_.getString(3)).toSeq ===
      Seq("append", "append"))
    assert(snaps.last.getString(3) === "overwrite")
    // parent lineage chains oldest → newest
    assert(snaps(1).getLong(1) === snaps(0).getLong(0))
    assert(snaps(2).getLong(1) === snaps(1).getLong(0))
    val files = IcebergImport.files(spark, t.location).collect()
    assert(files.nonEmpty)
    assert(files.forall(_.getLong(1) > 0L)) // real data sequences
    assert(files.forall(r => r.getString(2).contains("\"cat\":")))
  }

  test(".partitions metadata view: per-partition record/file counts " +
      "and byte totals from the manifests; delete files attribute " +
      "under their own spec's tuple (globally-scoped deletes under " +
      "{}); v3 deletion vectors attribute to their target file's " +
      "partition") {
    import graft.iceberg.ForeignFixtures._
    val loc = tmpDir("imp-partview") + "/t"
    new File(loc).mkdirs()
    val fX1 = ForeignFixtures.writeParquet(spark, loc, "x1",
      Seq((1L, "x"), (2L, "x")).toDF("id", "cat"))
    val fX2 = ForeignFixtures.writeParquet(spark, loc, "x2",
      Seq((3L, "x")).toDF("id", "cat"))
    val fY = ForeignFixtures.writeParquet(spark, loc, "y",
      Seq((4L, "y"), (5L, "y"), (6L, "y")).toDF("id", "cat"))
    val fEq = ForeignFixtures.writeParquet(spark, loc, "d",
      Seq(2L).toDF("id"))
    val fPos = ForeignFixtures.writeParquet(spark, loc, "p",
      Seq((fX1, 0L)).toDF("file_path", "pos"))
    val datas = Seq(Data(fX1, 2, 1L, Map("cat" -> "x")),
      Data(fX2, 1, 1L, Map("cat" -> "x")),
      Data(fY, 3, 1L, Map("cat" -> "y")))
    ForeignFixtures.writeTree(loc, Seq(ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "cat", "string")))), 0,
      Seq(SpecField("cat", "identity", 2, "string")),
      Seq(Snap(100L, None, 1L, "append", datas),
        Snap(101L, Some(100L), 2L, "delete", datas ++ Seq(
          EqDel(fEq, 1, 2L, Seq(1), Map("cat" -> "x")),
          PosDel(fPos, 1, 2L)))), lastColumnId = 2)
    val rows = IcebergImport.partitions(spark, loc).collect()
      .map(r => r.getString(0) -> r).toMap
    val x = rows("""{"cat":"x"}""")
    assert(x.getLong(1) === 3L && x.getLong(2) === 2L) // records, files
    assert(x.getLong(3) > 0L) // bytes
    assert(x.getLong(4) === 0L && x.getLong(5) === 1L) // pos=0, eq=1
    val y = rows("""{"cat":"y"}""")
    assert(y.getLong(1) === 3L && y.getLong(2) === 1L)
    assert(y.getLong(5) === 0L)
    // the GLOBAL position delete attributes under the empty tuple
    val g = rows("{}")
    assert(g.getLong(2) === 0L && g.getLong(4) === 1L)
    // time travel: the pre-delete snapshot shows no delete footprint
    val pre = IcebergImport.partitions(spark, loc, Some("100"))
      .collect().map(r => r.getString(0) -> r).toMap
    assert(!pre.contains("{}"))
    assert(pre("""{"cat":"x"}""").getLong(5) === 0L)

    // v3 DVs: a deleteWhere on an upgraded partitioned export writes a
    // deletion vector; it must attribute to the TARGET file's partition
    val t = GraftTable(spark, tmpDir("imp-partview3") + "/t")
    t.append(Seq((1L, "a", 1.0), (2L, "a", 2.0), (3L, "b", 3.0))
      .toDF("id", "cat", "v"), parts = Seq("cat"))
    IcebergExport.export(spark, t)
    IcebergWriteBack.upgradeFormatVersion(spark, t.location, 3)
    IcebergWriteBack.deleteWhere(spark, t.location,
      org.apache.spark.sql.functions.col("id") === 1L)
    val v3rows = IcebergImport.partitions(spark, t.location).collect()
      .map(r => r.getString(0) -> r).toMap
    assert(v3rows("""{"cat":"a"}""").getLong(6) === 1L) // dv_count
    assert(v3rows("""{"cat":"b"}""").getLong(6) === 0L)
  }

  test("incremental follow with skipRewrites: a replace (compaction) in " +
      "range is skipped — appends attributed per snapshot, original " +
      "files read — while data-changing ops still refuse") {
    val src = GraftTable(spark, tmpDir("imp-skiprw-src") + "/t")
    src.append((1L to 10L).map(i => (i, i * 1.0)).toDF("id", "v"))
    val s1 = src.latestSnapshotId.get
    src.append((11L to 20L).map(i => (i, i * 1.0)).toDF("id", "v"))
    src.compact(filesPerPartition = 1) // replace: same rows, new files
    src.append((21L to 25L).map(i => (i, i * 1.0)).toDF("id", "v"))
    IcebergExport.export(spark, src, history = 8)
    // default: refused, with the skipRewrites hint
    val e = intercept[IllegalArgumentException](
      IcebergImport.readChanges(spark, src.location, s1))
    assert(e.getMessage.contains("skipRewrites"))
    // skipRewrites: exactly the two appended batches, never the
    // compaction's rewritten copies (no double delivery)
    val delta = IcebergImport.readChanges(spark, src.location, s1,
      skipRewrites = true)
    assert(delta.select("id").orderBy("id").collect().map(_.getLong(0))
      .toSeq === (11L to 25L))
    // a data-changing op in range refuses even with skipRewrites
    val s4 = src.latestSnapshotId.get
    src.merge(Seq((1L, -1.0)).toDF("id", "v"), keys = Seq("id"),
      dedupKey = Seq("id"), orderCol = "id")
    IcebergExport.export(spark, src, history = 10)
    val e2 = intercept[IllegalArgumentException](
      IcebergImport.readChanges(spark, src.location, s4,
        skipRewrites = true))
    assert(e2.getMessage.contains("non-append"))
  }

  test("readPartition prunes the scan to the matching identity " +
      "partition's files (manifest-level pruning, not a post-filter)") {
    val t = GraftTable(spark, tmpDir("imp-prune") + "/t")
    t.append((1L to 40L).map(i => (i, s"c${i % 4}", i * 1.0))
      .toDF("id", "cat", "v"), parts = Seq("cat"))
    t.append((41L to 60L).map(i => (i, s"c${i % 4}", i * 1.0))
      .toDF("id", "cat", "v"))
    IcebergExport.export(spark, t)
    val pruned = IcebergImport.readPartition(spark, t.location,
      Map("cat" -> "c1"))
    assert(pruned.select("id").orderBy("id").collect().map(_.getLong(0))
      .toSeq === (1L to 60L).filter(_ % 4 == 1))
    // the SCAN itself is pruned: only cat=c1 files are inputs
    val allFiles = IcebergImport.plan(spark, t.location).files.size
    val prunedFiles = pruned.inputFiles.length
    assert(prunedFiles > 0 && prunedFiles < allFiles)
    assert(pruned.inputFiles.forall(_.contains("cat=c1")))
    intercept[IllegalArgumentException](
      IcebergImport.readPartition(spark, t.location, Map("nope" -> "x")))
  }

  test("readWhere prunes files by manifest value bounds (data skipping) " +
      "and stays byte-identical to read().filter") {
    val t = GraftTable(spark, tmpDir("imp-skip") + "/t")
    // three appends with DISJOINT id ranges → per-file bounds partition
    // the keyspace; a range predicate must touch only one append's files
    t.append((1L to 20L).map(i => (i, s"n$i", i * 1.0)).toDF("id", "nm", "v"))
    t.append((21L to 40L).map(i => (i, s"n$i", i * 1.0)).toDF("id", "nm", "v"))
    t.append((41L to 60L).map(i => (i, s"n$i", i * 1.0)).toDF("id", "nm", "v"))
    IcebergExport.export(spark, t)
    val p = IcebergImport.plan(spark, t.location)
    assert(p.files.forall(f => f.lower.contains("id") &&
      f.upper.contains("id")), "export must carry id bounds")
    val all = p.files.size

    val hi = IcebergImport.readWhere(spark, t.location, col("id") > 45L)
    assert(hi.select("id").orderBy("id").collect().map(_.getLong(0))
      .toSeq === (46L to 60L))
    assert(hi.inputFiles.length < all, "range predicate must skip files")

    // equality on a string column prunes too; extra non-prunable
    // conjunct rides along without breaking pruning soundness
    val eq = IcebergImport.readWhere(spark, t.location,
      col("nm") === "n33" && col("v") * 2 > 0)
    assert(eq.collect().map(_.getLong(0)).toSeq === Seq(33L))
    assert(eq.inputFiles.length < all)

    // bounds say nothing about NaN: a NaN literal must not prune
    val nan = IcebergImport.readWhere(spark, t.location,
      col("v") === Double.NaN)
    assert(nan.inputFiles.length === all)

    // IN-list: kept iff ANY listed value fits the file's bounds — two
    // values from one append's range touch only that append's files
    val inl = IcebergImport.readWhere(spark, t.location,
      col("id").isin(22L, 35L))
    assert(inl.select("id").orderBy("id").collect().map(_.getLong(0))
      .toSeq === Seq(22L, 35L))
    assert(inl.inputFiles.length < all, "IN-list must skip files")
    // values spanning two appends keep both ranges' files, still exact
    val in2 = IcebergImport.readWhere(spark, t.location,
      col("id").isin(5L, 55L))
    assert(in2.select("id").orderBy("id").collect().map(_.getLong(0))
      .toSeq === Seq(5L, 55L))

    // byte-identical to the unpruned filtered read
    val want = IcebergImport.read(spark, t.location)
      .filter(col("id") > 45L).orderBy("id").collect()
    assert(hi.orderBy("id").collect() === want)
  }

  test("diff: row-level changelog across arbitrary commits — updates as " +
      "pre-image delete + post-image insert, bag multiplicity honored") {
    val t = GraftTable(spark, tmpDir("imp-diff") + "/t")
    // pre-state carries a DUPLICATE row (1,"a") — multiplicity must diff
    t.append(Seq((1L, "a"), (1L, "a"), (2L, "b"), (3L, "c"), (4L, "d"))
      .toDF("id", "nm"))
    val s1 = t.latestSnapshotId.get
    // update 3 → "C" (COW rewrite), append a SECOND copy of (2,"b"),
    // position-delete 4
    t.merge(Seq((3L, "C")).toDF("id", "nm"), keys = Seq("id"),
      dedupKey = Seq("id"), orderCol = "id")
    t.append(Seq((2L, "b")).toDF("id", "nm"))
    t.deletePositions($"id" === 4L)
    IcebergExport.export(spark, t, history = 8)

    val d = IcebergImport.diff(spark, t.location, s1)
      .select("id", "nm", "_change_type").as[(Long, String, String)]
      .collect().sorted.toSeq
    assert(d === Seq(
      (2L, "b", "insert"), // one NEW copy only — the pre copy cancels
      (3L, "C", "insert"), // post-image of the update
      (3L, "c", "delete"), // pre-image of the update
      (4L, "d", "delete"))) // position-deleted row
    // untouched rows (1,"a")×2 appear in neither direction; a
    // self-diff is empty
    assert(IcebergImport.diff(spark, t.location,
      t.latestSnapshotId.get).count() === 0)
  }

  test("diffPerCommit: per-commit changelog — appends attributed " +
      "metadata-only at their ordinal, replaces silent, rewrites as " +
      "update pairs; insert-then-delete visible per-commit but net-cancelled") {
    val t = GraftTable(spark, tmpDir("imp-dpc") + "/t")
    t.append(Seq((1L, "a"), (2L, "b")).toDF("id", "nm"))
    val s1 = t.latestSnapshotId.get
    t.append(Seq((3L, "c")).toDF("id", "nm")) // ord 0: append delta
    val s2 = t.latestSnapshotId.get
    t.compactSmallFiles() // ord 1: replace — silent, ordinal consumed
    t.merge(Seq((1L, "A")).toDF("id", "nm"), keys = Seq("id"),
      dedupKey = Seq("id"), orderCol = "id") // ord 2: update pair
    val s4 = t.latestSnapshotId.get
    t.append(Seq((4L, "d")).toDF("id", "nm")) // ord 3: insert...
    val s5 = t.latestSnapshotId.get
    t.deletePositions($"id" === 4L) // ord 4: ...then delete
    val s6 = t.latestSnapshotId.get
    IcebergExport.export(spark, t, history = 10)

    val d = IcebergImport.diffPerCommit(spark, t.location, s1)
      .select("id", "nm", "_change_type", "_change_ordinal",
        "_commit_snapshot_id")
      .as[(Long, String, String, Int, Long)].collect()
      .sortBy(r => (r._4, r._3, r._1)).toSeq
    assert(d === Seq(
      (3L, "c", "insert", 0, s2),
      (1L, "a", "delete", 2, s4),
      (1L, "A", "insert", 2, s4),
      (4L, "d", "insert", 3, s5),
      (4L, "d", "delete", 4, s6)))
    // the endpoint-net view cancels the insert-then-delete of id=4
    val net = IcebergImport.diff(spark, t.location, s1)
    assert(net.filter($"id" === 4L).count() === 0)
    assert(net.count() === 3)
  }

  test("BUCKET-scoped equality delete (Flink-CDC shape) applies only " +
      "inside its hidden partition: the same key in another bucket " +
      "survives") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, EqDel, Snap}
    import org.apache.spark.unsafe.types.UTF8String
    import org.apache.spark.sql.types.StringType
    val loc = tmpDir("imp-eqbucket") + "/ft"
    new File(loc).mkdirs()
    def bucketOf(s: String): Int = graft.functions.IcebergBucketHash
      .bucketValue(UTF8String.fromString(s), StringType, 4)
    val (bx, by) = (bucketOf("x"), bucketOf("y"))
    require(bx != by, "fixture needs distinct buckets for x and y")
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      Seq((1L, "x", 1.0), (2L, "x", 2.0)).toDF("id", "cat", "v"))
    val fB = ForeignFixtures.writeParquet(spark, loc, "B",
      Seq((1L, "y", 10.0), (3L, "y", 3.0)).toDF("id", "cat", "v"))
    val fD = ForeignFixtures.writeParquet(spark, loc, "D",
      Seq(1L).toDF("id"))
    val schema = ForeignFixtures.schemaJson(0, Seq(
      (1, "id", "long"), (2, "cat", "string"), (3, "v", "double")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0,
      Seq(ForeignFixtures.SpecField("cat_bucket", "bucket[4]", 2, "int")),
      Seq(Snap(100L, None, 2L, "append", Seq(
        Data(fA, 2, 1L, Map("cat_bucket" -> bx)),
        Data(fB, 2, 1L, Map("cat_bucket" -> by)),
        // delete id=1 scoped to cat's bucket bx ONLY
        EqDel(fD, 1, 2L, Seq(1), Map("cat_bucket" -> bx))))),
      lastColumnId = 3)
    val p = IcebergImport.plan(spark, loc)
    assert(p.deletes.head.transformScope ===
      Seq(("cat", "bucket[4]", bx)))
    val got = IcebergImport.read(spark, loc).orderBy("id", "cat")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getDouble(2)))
    // (1,"x") deleted — its bucket matches the scope; (1,"y") SURVIVES
    assert(got.toSeq === Seq(
      (1L, "y", 10.0), (2L, "x", 2.0), (3L, "y", 3.0)))
  }

  test("PLAN SHAPE: per-bucket equality deletes in EVERY bucket of a " +
      "bucket[8] tree collapse into exactly ONE anti-join (scope tuple " +
      "values are join columns, not plan splits)") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, EqDel, Snap}
    import org.apache.spark.sql.types.LongType
    val loc = tmpDir("imp-eqcollapse") + "/ft"
    new File(loc).mkdirs()
    def bucketOf(id: Long): Int = graft.functions.IcebergBucketHash
      .bucketValue(id, LongType, 8)
    // 64 keys spread across buckets; one data file + one per-bucket
    // equality-delete file for EACH of the 8 buckets (the Flink-CDC
    // writer layout). Delete file kills the even ids of its bucket.
    val ids = (1L to 64L)
    val byBucket = ids.groupBy(bucketOf)
    assert(byBucket.size === 8, "fixture wants all 8 buckets populated")
    val entries = byBucket.toSeq.sortBy(_._1).flatMap { case (b, ks) =>
      val fD = ForeignFixtures.writeParquet(spark, loc, s"D$b",
        ks.filter(_ % 2 == 0).toDF("id"))
      val fA = ForeignFixtures.writeParquet(spark, loc, s"A$b",
        ks.map(i => (i, i * 1.0)).toDF("id", "v"))
      Seq(Data(fA, ks.size, 1L, Map("id_bucket" -> b)),
        EqDel(fD, ks.count(_ % 2 == 0), 2L, Seq(1),
          Map("id_bucket" -> b)))
    }
    val schema = ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "double")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0,
      Seq(ForeignFixtures.SpecField("id_bucket", "bucket[8]", 1, "int")),
      Seq(Snap(100L, None, 2L, "append", entries)), lastColumnId = 2)
    val p = IcebergImport.plan(spark, loc)
    assert(p.deletes.size === 8)
    val df = IcebergImport.read(spark, loc)
    val got = df.select("id").collect().map(_.getLong(0)).sorted
    assert(got.toSeq === ids.filter(_ % 2 == 1))
    // THE shape assertion: one key-column set + one scope shape means
    // exactly one LeftAnti join in the whole plan — not 8 chained ones
    val antis = df.queryExecution.optimizedPlan.collect {
      case j: org.apache.spark.sql.catalyst.plans.logical.Join
          if j.joinType == org.apache.spark.sql.catalyst.plans.LeftAnti
        => j
    }
    assert(antis.size === 1,
      s"expected ONE collapsed anti-join, got ${antis.size}:\n" +
        df.queryExecution.optimizedPlan)
  }

  test("HIDDEN-PARTITION pruning: a point lookup on a bucket[8]-" +
      "partitioned tree scans ONLY the matching bucket's files (the " +
      "lookup column bounds can never serve), day tuples prune " +
      "timestamp equality, and results stay byte-identical") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    import org.apache.spark.sql.types.LongType
    val loc = tmpDir("imp-hiddenprune") + "/ft"
    new File(loc).mkdirs()
    def bucketOf(id: Long): Int = graft.functions.IcebergBucketHash
      .bucketValue(id, LongType, 8)
    val ids = (1L to 64L)
    val byBucket = ids.groupBy(bucketOf)
    assert(byBucket.size === 8)
    val entries = byBucket.toSeq.sortBy(_._1).map { case (b, ks) =>
      val f = ForeignFixtures.writeParquet(spark, loc, s"B$b",
        ks.map(i => (i, i * 1.0)).toDF("id", "v"))
      Data(f, ks.size.toLong, 1L, Map("id_bucket" -> b))
    }
    ForeignFixtures.writeTree(loc, Seq(ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "double")))), 0,
      Seq(ForeignFixtures.SpecField("id_bucket", "bucket[8]", 1, "int")),
      Seq(Snap(100L, None, 1L, "append", entries)), lastColumnId = 2)

    val hit = IcebergImport.readWhere(spark, loc, col("id") === 37L)
    assert(hit.inputFiles.length === 1,
      s"expected ONE bucket file, scanned ${hit.inputFiles.length}")
    assert(hit.select("id").as[Long].collect().toSeq === Seq(37L))
    // IN-list across two buckets keeps exactly those buckets
    val b37 = bucketOf(37L); val two = ids.find(i =>
      bucketOf(i) != b37).get
    val hitIn = IcebergImport.readWhere(spark, loc,
      col("id").isin(37L, two))
    assert(hitIn.inputFiles.length === 2)
    assert(hitIn.select("id").as[Long].collect().sorted ===
      Array(two, 37L).sorted)
    // a range predicate doesn't tuple-prune (hash buckets say nothing
    // about ranges) but stays correct
    assert(IcebergImport.readWhere(spark, loc, col("id") <= 5L)
      .select("id").as[Long].collect().sorted === (1L to 5L).toArray)

    // day(ts) tree: timestamp equality prunes to the matching day
    def ts(d: String, h: Int): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.LocalDate.parse(d)
        .atTime(h, 0).toInstant(java.time.ZoneOffset.UTC))
    val loc2 = tmpDir("imp-dayprune") + "/ft"
    new File(loc2).mkdirs()
    def dayOf(d: String): Int =
      java.time.LocalDate.parse(d).toEpochDay.toInt
    val f1 = ForeignFixtures.writeParquet(spark, loc2, "D1",
      Seq((1L, ts("2024-03-05", 9))).toDF("id", "t"))
    val f2 = ForeignFixtures.writeParquet(spark, loc2, "D2",
      Seq((2L, ts("2024-03-06", 9))).toDF("id", "t"))
    ForeignFixtures.writeTree(loc2, Seq(ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "t", "timestamptz")))), 0,
      Seq(ForeignFixtures.SpecField("t_day", "day", 2, "int")),
      Seq(Snap(100L, None, 1L, "append", Seq(
        Data(f1, 1, 1L, Map("t_day" -> dayOf("2024-03-05"))),
        Data(f2, 1, 1L, Map("t_day" -> dayOf("2024-03-06")))))),
      lastColumnId = 2)
    val dayHit = IcebergImport.readWhere(spark, loc2,
      col("t") === ts("2024-03-06", 9))
    assert(dayHit.inputFiles.length === 1)
    assert(dayHit.select("id").as[Long].collect().toSeq === Seq(2L))
  }

  test("DAY- and TRUNCATE-scoped equality deletes evaluate the spec's " +
      "epoch-ordinal transforms per data row") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, EqDel, Snap}
    val loc = tmpDir("imp-eqday") + "/ft"
    new File(loc).mkdirs()
    def ts(d: String, h: Int): java.sql.Timestamp =
      java.sql.Timestamp.from(java.time.LocalDate.parse(d)
        .atTime(h, 0).toInstant(java.time.ZoneOffset.UTC))
    val d1 = java.time.LocalDate.parse("2024-03-05").toEpochDay.toInt
    // three copies of key id=1: only the (day d1, cat "ab*") one dies
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      Seq((1L, ts("2024-03-05", 9), "abc", 1.0),
        (2L, ts("2024-03-05", 10), "abq", 2.0))
        .toDF("id", "ts", "cat", "v"))
    val fB = ForeignFixtures.writeParquet(spark, loc, "B",
      Seq((1L, ts("2024-03-06", 9), "abc", 10.0), // other day
        (1L, ts("2024-03-05", 9), "xyz", 20.0)) // other prefix
        .toDF("id", "ts", "cat", "v"))
    val fD = ForeignFixtures.writeParquet(spark, loc, "D",
      Seq(1L).toDF("id"))
    val schema = ForeignFixtures.schemaJson(0, Seq((1, "id", "long"),
      (2, "ts", "timestamptz"), (3, "cat", "string"),
      (4, "v", "double")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0,
      Seq(ForeignFixtures.SpecField("ts_day", "day", 2, "int"),
        ForeignFixtures.SpecField("cat_trunc", "truncate[2]", 3,
          "string")),
      Seq(Snap(100L, None, 2L, "append", Seq(
        Data(fA, 2, 1L, Map("ts_day" -> d1, "cat_trunc" -> "ab")),
        Data(fB, 2, 1L),
        EqDel(fD, 1, 2L, Seq(1),
          Map("ts_day" -> d1, "cat_trunc" -> "ab"))))),
      lastColumnId = 4)
    val got = IcebergImport.read(spark, loc).orderBy("v")
      .collect().map(r => (r.getLong(0), r.getString(2), r.getDouble(3)))
    assert(got.toSeq === Seq(
      (2L, "abq", 2.0),   // same scope, different key — survives
      (1L, "abc", 10.0),  // same key, other day — survives
      (1L, "xyz", 20.0))) // same key+day, other prefix — survives
  }

  test("MOR delete broadcasts are GATED on manifest-recorded bytes: " +
      "over the threshold the anti-joins shuffle (planner's call), " +
      "results identical either way") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, EqDel, PosDel, Snap}
    val loc = tmpDir("imp-bcgate") + "/ft"
    new File(loc).mkdirs()
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      (1L to 30L).map(i => (i, i * 1.0)).toDF("id", "v"))
    val fDel = ForeignFixtures.writeParquet(spark, loc, "D",
      Seq(2L, 4L).toDF("id"))
    val fPos = ForeignFixtures.writeParquet(spark, loc, "P",
      Seq((fA, 0L)).toDF("file_path", "pos")) // kills id=1 (row 0)
    val schema = ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "double")))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 3L, "append", Seq(
        Data(fA, 30, 1L), EqDel(fDel, 2, 2L, Seq(1)),
        PosDel(fPos, 1, 3L)))), lastColumnId = 2)
    def planOf(df: org.apache.spark.sql.DataFrame): String = {
      df.collect(); df.queryExecution.executedPlan.toString
    }
    val expect = (3L to 30L).filterNot(Set(4L))
    // default threshold: small delete sets broadcast (today's plan)
    val hinted = IcebergImport.read(spark, loc)
    assert(planOf(hinted).contains("BroadcastHashJoin"))
    assert(hinted.select("id").collect().map(_.getLong(0)).sorted
      === expect.toArray)
    // tiny threshold: the hint must NOT be forced — no broadcast join
    // anywhere, the anti-joins go through shuffle, answers unchanged
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "16")
    try {
      val unhinted = IcebergImport.read(spark, loc)
      val plan = planOf(unhinted)
      assert(!plan.contains("BroadcastHashJoin"),
        s"forced broadcast past the threshold:\n$plan")
      assert(plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin"))
      assert(unhinted.select("id").collect().map(_.getLong(0)).sorted
        === expect.toArray)
    } finally spark.conf.set(
      "spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("classifyFiles samples PER MANIFEST: an id-ful manifest between " +
      "id-less ones resolves by field id even when the global file-list " +
      "ends are uniformly id-less") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val loc = tmpDir("imp-permanifest") + "/ft"
    new File(loc).mkdirs()
    // manifests M0/M2: 4 id-less files each (plain current names)
    val edge = (0 until 8).map { i =>
      ForeignFixtures.writeParquet(spark, loc, s"E$i",
        Seq((i.toLong, s"e$i")).toDF("id", "name_new"))
    }
    // manifest M1 (the MIDDLE of manifest order): ONE id-ful file whose
    // PHYSICAL column name is the pre-rename name_old@2 — readable only
    // by field id; name resolution would return NULL
    val prevWrite = spark.conf.getOption(
      "spark.sql.parquet.fieldId.write.enabled")
    spark.conf.set("spark.sql.parquet.fieldId.write.enabled", "true")
    val fMid = try {
      def idField(name: String, t: DataType, id: Long) =
        StructField(name, t, nullable = true,
          new MetadataBuilder().putLong("parquet.field.id", id).build())
      ForeignFixtures.writeParquet(spark, loc, "MID",
        spark.createDataFrame(
          java.util.List.of(Row(100L, "mid")),
          StructType(Seq(idField("id", LongType, 1L),
            idField("name_old", StringType, 2L)))))
    } finally prevWrite match {
      case Some(v) =>
        spark.conf.set("spark.sql.parquet.fieldId.write.enabled", v)
      case None =>
        spark.conf.unset("spark.sql.parquet.fieldId.write.enabled")
    }
    val schema = ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "name_new", "string")))
    val entries =
      edge.take(4).map(u => Data(u, 1, 1L, group = 0)) ++
        Seq(Data(fMid, 1, 1L, group = 1)) ++
        edge.drop(4).map(u => Data(u, 1, 1L, group = 2))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", entries)), lastColumnId = 2)
    val got = IcebergImport.read(spark, loc).orderBy("id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // the middle file's renamed column reads its bytes BY ID — a
    // global ends-only sample would classify it id-less and read NULL
    assert(got.last === ((100L, "mid")))
    assert(got.map(_._2).forall(_ != null))
    assert(got.length === 9)
  }

  test("format-version 3: puffin DELETION VECTORS apply (decoded " +
      "executor-side), compose with v2-style equality deletes, and " +
      "time travel before the DV sees the rows") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Dv, EqDel, Snap}
    val loc = tmpDir("imp-v3dv") + "/ft"
    new File(loc).mkdirs()
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      (1L to 30L).map(i => (i, i * 1.0)).toDF("id", "v")
        .repartition(1).sortWithinPartitions("id"))
    val fEq = ForeignFixtures.writeParquet(spark, loc, "E",
      Seq(29L).toDF("id"))
    // DV kills ordinals 0, 4, 17 of file A → ids 1, 5, 18
    val metaDir = new File(loc, "metadata"); metaDir.mkdirs()
    val puffinPath = new org.apache.hadoop.fs.Path(
      s"$loc/data/dv.puffin")
    val fs = puffinPath.getFileSystem(
      new org.apache.hadoop.conf.Configuration())
    val coords = Puffin.writeDvFile(fs, puffinPath,
      Seq((fA, Seq(0L, 4L, 17L))), 200L, 3L)
    val (_, off, len, card) = coords.head
    val schema = ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "double")))
    val s100 = Snap(100L, None, 1L, "append", Seq(Data(fA, 30, 1L)))
    val s200 = Snap(200L, Some(100L), 3L, "append", Seq(
      Data(fA, 30, 1L), EqDel(fEq, 1, 2L, Seq(1)),
      Dv(s"file://$loc/data/dv.puffin", fA, off, len, card, 3L)))
    ForeignFixtures.writeTree(loc, Seq(schema), 0, Seq.empty,
      Seq(s100, s200), formatVersion = 3, lastColumnId = 2)

    val p = IcebergImport.plan(spark, loc)
    assert(p.dvs.size === 1 && p.dvs.head.dataFileUri === fA)
    val got = IcebergImport.read(spark, loc).select("id")
      .collect().map(_.getLong(0)).sorted
    assert(got === (1L to 30L)
      .filterNot(Set(1L, 5L, 18L, 29L)).toArray)
    // time travel to the pre-DV snapshot: all 30 rows
    assert(IcebergImport.read(spark, loc, Some("100")).count() === 30)
    // v2/v3 follow: the append-range check still walks ancestry
    assert(IcebergImport.snapshots(spark, loc).count() === 2)
  }

  test("v3 initial-default APPLIES per file: pre-evolution files read " +
      "the default, post-evolution files read their own bytes " +
      "including genuine NULLs") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    val loc = tmpDir("imp-v3default") + "/ft"
    new File(loc).mkdirs()
    // file A: written BEFORE `flag` existed (physically lacks it);
    // file B: written after, carrying a real value AND a genuine NULL
    val fA = ForeignFixtures.writeParquet(spark, loc, "A",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val fB = ForeignFixtures.writeParquet(spark, loc, "B",
      Seq((3L, "c", Some(9L)), (4L, "d", None)).toDF("id", "v", "flag"))
    val schemaDefault =
      """{"type":"struct","schema-id":0,"fields":[
        |{"id":1,"name":"id","required":false,"type":"long"},
        |{"id":2,"name":"v","required":false,"type":"string"},
        |{"id":3,"name":"flag","required":false,"type":"long",
        | "initial-default":7}]}""".stripMargin.replaceAll("\n", "")
    ForeignFixtures.writeTree(loc, Seq(schemaDefault), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append",
        Seq(Data(fA, 2, 1L), Data(fB, 2, 1L, group = 1)))),
      formatVersion = 3, lastColumnId = 3)
    val got = IcebergImport.read(spark, loc).orderBy("id")
      .select("id", "flag").collect()
      .map(r => (r.getLong(0), if (r.isNullAt(1)) None
        else Some(r.getLong(1))))
    assert(got.toSeq === Seq(
      (1L, Some(7L)), (2L, Some(7L)), // pre-evolution: the default
      (3L, Some(9L)),                 // post-evolution: its own value
      (4L, None)))                    // post-evolution NULL survives
  }

  test("v3 refusal fails loud: any format-version beyond 3") {
    import graft.iceberg.ForeignFixtures
    import graft.iceberg.ForeignFixtures.{Data, Snap}
    val loc2 = tmpDir("imp-v4refuse") + "/ft"
    new File(loc2).mkdirs()
    val f2 = ForeignFixtures.writeParquet(spark, loc2, "A",
      Seq((1L, "a")).toDF("id", "v"))
    ForeignFixtures.writeTree(loc2, Seq(ForeignFixtures.schemaJson(0,
      Seq((1, "id", "long"), (2, "v", "string")))), 0, Seq.empty,
      Seq(Snap(100L, None, 1L, "append", Seq(Data(f2, 1, 1L)))),
      formatVersion = 4, lastColumnId = 2)
    val e2 = intercept[IllegalArgumentException](
      IcebergImport.plan(spark, loc2))
    assert(e2.getMessage.contains("format-version"))
  }
}
