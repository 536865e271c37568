package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** SQL-registered native functions via SparkSessionExtensions. Needs its
  * own session (extensions bind at build time). */
class GraftExtensionsSpec extends AnyFunSuite {

  private lazy val spark: SparkSession = {
    // force a NEW session (sharing any existing context) so withExtensions
    // applies even when another suite already built the shared session
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-ext-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  test("native expressions are callable from pure SQL") {
    val row = spark.sql(
      """SELECT rolling_hash64('hello world') AS rh,
        |       simhash64(array('a','b','c')) AS sh,
        |       word_shingles(array('a','b','c','d'), 3) AS ws,
        |       hyperplane_bucket(array(CAST(0.5 AS FLOAT), CAST(-0.25 AS FLOAT)), 8, 7) AS hb,
        |       interleave_bits(array(3L, 0L), 2) AS zb
        |""".stripMargin).collect()(0)
    assert(row.getAs[Long]("zb") === 0x5L)
    assert(row.getAs[Long]("rh") ===
      functions.HashExpressions.RollingHash64.hash("hello world".getBytes("UTF-8")))
    assert(row.getSeq[String](row.fieldIndex("ws")) === Seq("a b c", "b c d"))
    assert(row.getAs[Long]("hb") >= 0L)
  }

  test("SQL and Scala APIs agree on the same input") {
    import spark.implicits._
    val df = Seq("the quick brown fox").toDF("text")
    df.createOrReplaceTempView("ext_docs")
    val viaSql = spark.sql(
      "SELECT rolling_hash64(text) AS h FROM ext_docs").as[Long].collect()(0)
    val viaScala = df.select(
      functions.HashExpressions.rolling_hash64($"text").as("h"))
      .as[Long].collect()(0)
    assert(viaSql === viaScala)
  }

  test("wrong arity or input type fails at analysis, not deep in planning") {
    import org.apache.spark.sql.AnalysisException
    // arity
    intercept[AnalysisException](spark.sql("SELECT rolling_hash64()"))
    intercept[AnalysisException](spark.sql("SELECT simhash64()"))
    intercept[AnalysisException](
      spark.sql("SELECT word_shingles(array('a','b'))"))
    intercept[AnalysisException](
      spark.sql("SELECT hyperplane_bucket(array(CAST(1.0 AS FLOAT)))"))
    // input types (ExpectsInputTypes → clean AnalysisException, not a
    // runtime ClassCastException or Janino compile error)
    intercept[AnalysisException](spark.sql("SELECT rolling_hash64(123)").collect())
    intercept[AnalysisException](
      spark.sql("SELECT simhash64('not-an-array')").collect())
    intercept[AnalysisException](
      spark.sql("SELECT word_shingles(map('a','b'), 2)").collect())
    intercept[AnalysisException](
      spark.sql("SELECT hyperplane_bucket(array(1.0, 2.0), 8)").collect())
  }

  test("SQL INSERT INTO / INSERT OVERWRITE commit through the snapshot log") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-insert").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_ins", Seq((1L, "a")).toDF("id", "v"))
    spark.sql("INSERT INTO ext_ins VALUES (2, 'b'), (3, 'c')")
    val t = cat.table("ext_ins")
    assert(t.snapshots.last.operation === "append") // a real commit
    assert(spark.sql("SELECT id FROM ext_ins ORDER BY id")
      .as[Long].collect() === Array(1L, 2L, 3L)) // SQL readers see it
    spark.sql("INSERT OVERWRITE ext_ins VALUES (9, 'z')")
    assert(t.snapshots.last.operation === "overwrite")
    assert(spark.sql("SELECT id, v FROM ext_ins").as[(Long, String)]
      .collect() === Array((9L, "z")))
    // positional semantics with a column-order-shuffling SELECT
    spark.sql("INSERT INTO ext_ins SELECT 10, 'y'")
    assert(spark.sql("SELECT count(*) FROM ext_ins").as[Long].collect()(0) === 2L)
    cat.drop("ext_ins")
  }

  test("SQL MERGE INTO upserts through the snapshot log (reference shape)") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-merge").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_m", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    Seq((2L, "b2"), (5L, "e")).toDF("id", "v")
      .createOrReplaceTempView("ext_m_src")
    spark.sql(
      """MERGE INTO ext_m t USING ext_m_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(cat.table("ext_m").snapshots.last.operation === "merge")
    assert(spark.sql("SELECT id, v FROM ext_m ORDER BY id")
      .as[(Long, String)].collect() === Array((1L, "a"), (2L, "b2"), (5L, "e")))
    cat.drop("ext_m")
  }

  test("SQL MERGE with a leading CDC delete branch") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-merge-cdc").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_cdc",
      Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("id", "v"))
    // 8 is a delete-op row with no target match: CDC semantics drop it
    // (an ANSI INSERT * would insert it)
    Seq((2L, "x", "D"), (3L, "c2", "U"), (7L, "g", "I"), (8L, "h", "D"))
      .toDF("id", "v", "op").createOrReplaceTempView("ext_cdc_src")
    spark.sql(
      """MERGE INTO ext_cdc t USING ext_cdc_src s ON t.id = s.id
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT id, v FROM ext_cdc ORDER BY id")
      .as[(Long, String)].collect() ===
        Array((1L, "a"), (3L, "c2"), (7L, "g")))
    cat.drop("ext_cdc")
  }

  test("SQL DELETE FROM rewrites only matching files; NULL predicate keeps rows") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-del").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    val t = cat.table("ext_del")
    // two files with disjoint id ranges + one NULL v row
    t.append((1L to 50L).map(i => (i, if (i == 5) null else s"a$i"))
      .toDF("id", "v").coalesce(1))
    t.append((100L to 150L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(1))
    cat.register("ext_del")
    val loFile = t.liveFiles().find(f =>
      t.statsFor(Seq(f))(f)("id").max.get.toLong <= 50L).get
    spark.sql("DELETE FROM ext_del WHERE id >= 100 AND v <> 'b120'")
    assert(t.snapshots.last.operation === "delete")
    // the low file was never rewritten
    assert(t.liveFiles().contains(loFile))
    // NULL-condition rows are kept (id=5 has v NULL → v <> 'b120' is NULL)
    assert(spark.sql("SELECT count(*) FROM ext_del").as[Long].collect()(0)
      === 51L) // 50 low rows + b120
    assert(spark.sql("SELECT id FROM ext_del WHERE id >= 100").as[Long]
      .collect() === Array(120L))
    cat.drop("ext_del")
  }

  test("SQL UPDATE applies assignments to matching rows only") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-upd").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_upd",
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "v", "n"))
    spark.sql("UPDATE ext_upd SET v = concat(v, '!'), n = n * 2 WHERE id >= 2")
    assert(cat.table("ext_upd").snapshots.last.operation === "update")
    assert(spark.sql("SELECT id, v, n FROM ext_upd ORDER BY id")
      .as[(Long, String, Long)].collect() ===
        Array((1L, "a", 10L), (2L, "b!", 40L), (3L, "c!", 60L)))
    // unconditional UPDATE hits every row
    spark.sql("UPDATE ext_upd SET n = 0")
    assert(spark.sql("SELECT sum(n) FROM ext_upd").as[Long].collect()(0) === 0L)
    cat.drop("ext_upd")
  }

  test("SQL time travel: VERSION AS OF and TIMESTAMP AS OF resolve snapshots") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-tt").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_tt", Seq((1L, "a")).toDF("id", "v"))
    val t = cat.table("ext_tt")
    val v1 = t.latestSnapshotId.get
    Thread.sleep(5) // distinct commit timestamps at ms granularity
    t.append(Seq((2L, "b"), (3L, "c")).toDF("id", "v"))
    cat.refresh("ext_tt")

    assert(spark.sql("SELECT count(*) FROM ext_tt").as[Long].collect()(0) === 3L)
    assert(spark.sql(s"SELECT id FROM ext_tt VERSION AS OF $v1")
      .as[Long].collect() === Array(1L))
    // timestamp of snapshot v1 (UTC render) → that snapshot's state
    val tsStr = java.time.Instant
      .ofEpochMilli(t.snapshots.find(_.snapshotId == v1).get.timestampMs)
      .atZone(java.time.ZoneOffset.UTC).toLocalDateTime
      .format(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(s"SELECT id FROM ext_tt TIMESTAMP AS OF '$tsStr'")
      .as[Long].collect() === Array(1L))
    // a timestamp before the table existed errors clearly
    val e = intercept[Exception](spark.sql(
      "SELECT * FROM ext_tt TIMESTAMP AS OF '1990-01-01 00:00:00'").collect())
    def causes(t2: Throwable): Seq[Throwable] =
      if (t2 == null) Seq.empty else t2 +: causes(t2.getCause)
    assert(causes(e).exists(c => Option(c.getMessage).exists(
      _.contains("no snapshot"))))
    cat.drop("ext_tt")
  }

  test("SQL metadata tables: t.history / t.snapshots / t.files") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-meta").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_meta", Seq((1L, "a")).toDF("id", "v"))
    cat.append("ext_meta", Seq((2L, "b")).toDF("id", "v"))
    assert(spark.sql("SELECT operation FROM ext_meta.history ORDER BY snapshot_id")
      .as[String].collect() === Array("create", "append", "append"))
    assert(spark.sql(
      "SELECT sum(added_files) FROM ext_meta.snapshots").as[Long]
      .collect()(0) === 2L)
    val files = spark.sql(
      "SELECT file_path, size_bytes FROM ext_meta.files").collect()
    assert(files.length === 2)
    assert(files.forall(_.getLong(1) > 0L))
    // .partitions: per-partition rollup from manifests only
    val parts = spark.sql(
      "SELECT file_count, row_count, total_bytes FROM ext_meta.partitions")
      .as[(Long, Long, Long)].collect()
    assert(parts === Array((2L, 2L, files.map(_.getLong(1)).sum)))
    // .delete_files: live tombstones with their encoding
    assert(spark.sql("SELECT * FROM ext_meta.delete_files").count() === 0)
    cat.table("ext_meta").merge(Seq((1L, "a2")).toDF("id", "v"),
      Seq("id"), Seq("id"), "id", mode = "mor")
    val dels = spark.sql(
      "SELECT content, equality_cols, sequence FROM ext_meta.delete_files")
      .as[(String, Seq[String], Long)].collect()
    assert(dels.length === 1)
    assert(dels(0)._1 === "equality" && dels(0)._2 === Seq("id"))
    cat.drop("ext_meta")
  }

  test("CALL graft.compact_small_files binpacks via SQL; -1 when " +
      "nothing meets the trigger") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-binpack").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    val t = cat.table("ext_binpack")
    (1 to 4).foreach(i =>
      t.append(Seq((i.toLong, s"v$i")).toDF("id", "v")))
    cat.register("ext_binpack")
    val nBefore = t.liveFiles().size
    val snap = spark.sql(
      "CALL graft.compact_small_files('ext_binpack', " +
        "target_file_bytes => 1048576)").as[Long].collect()(0)
    assert(snap === t.latestSnapshotId.get)
    assert(t.liveFiles().size < nBefore)
    assert(spark.sql("SELECT count(*) FROM ext_binpack").as[Long]
      .collect()(0) === 4L)
    // second run: everything is right-sized or below the trigger → -1
    assert(spark.sql(
      "CALL graft.compact_small_files('ext_binpack', " +
        "target_file_bytes => 1048576)").as[Long].collect()(0) === -1L)
    cat.drop("ext_binpack")
  }

  test("CALL graft.maintain_rollup keeps a rollup table current") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-roll").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_roll_src",
      Seq(("a", 1L, 10L), ("b", 2L, 5L)).toDF("g", "id", "v"))
    cat.register("ext_roll_src")
    val dstPath = s"$wh/ext_roll_dst"
    val applied = spark.sql(
      s"""CALL graft.maintain_rollup('ext_roll_src', dst => '$dstPath',
         |keys => 'g', sums => 'v', app_id => 'r')""".stripMargin)
      .as[Long].collect()(0)
    assert(applied > 0L)
    cat.append("ext_roll_src", Seq(("a", 3L, 7L)).toDF("g", "id", "v"))
    spark.sql(
      s"""CALL graft.maintain_rollup('ext_roll_src', dst => '$dstPath',
         |keys => 'g', sums => 'v', app_id => 'r')""".stripMargin)
    val dst = graft.table.GraftTable(spark, dstPath)
    assert(dst.read().select("g", "v_sum", "n")
      .orderBy("g").as[(String, Long, Long)].collect()
      === Array(("a", 17L, 2L), ("b", 5L, 1L)))
    // up to date: -1 (nothing applied), and the dst is unchanged
    assert(spark.sql(
      s"""CALL graft.maintain_rollup('ext_roll_src', dst => '$dstPath',
         |keys => 'g', sums => 'v', app_id => 'r')""".stripMargin)
      .as[Long].collect()(0) === -1L)
    cat.drop("ext_roll_src")
  }

  test("CALL graft.maintain_rollup with mins/maxes recovers retracted " +
      "extremes") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-rollmm").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_rollmm_src",
      Seq(("a", 1L, 10L), ("a", 2L, 99L)).toDF("g", "id", "v"))
    cat.register("ext_rollmm_src")
    val dstPath = s"$wh/ext_rollmm_dst"
    def round(): Unit = spark.sql(
      s"""CALL graft.maintain_rollup('ext_rollmm_src', dst => '$dstPath',
         |keys => 'g', sums => 'v', app_id => 'r',
         |mins => 'v', maxes => 'v')""".stripMargin)
    round()
    val dst = graft.table.GraftTable(spark, dstPath)
    assert(dst.read().select("g", "v_sum", "v_min", "v_max", "n")
      .as[(String, Long, Long, Long, Long)].collect()
      === Array(("a", 109L, 10L, 99L, 2L)))
    // retract the max through SQL DELETE on the source, re-maintain
    spark.sql("DELETE FROM ext_rollmm_src WHERE id = 2")
    round()
    assert(dst.read().select("g", "v_sum", "v_min", "v_max", "n")
      .as[(String, Long, Long, Long, Long)].collect()
      === Array(("a", 10L, 10L, 10L, 1L)))
    cat.drop("ext_rollmm_src")
  }

  test("CTAS: CREATE TABLE ... USING graft AS SELECT commits through the log") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-ctas").toString
    Seq((1L, "x"), (2L, "y")).toDF("id", "v")
      .createOrReplaceTempView("ext_ctas_src")
    spark.sql(
      s"""CREATE TABLE ext_ctas USING graft
         |OPTIONS (path '$wh/ext_ctas')
         |AS SELECT id, upper(v) AS v FROM ext_ctas_src""".stripMargin)
    val t = graft.table.GraftTable(spark, s"$wh/ext_ctas")
    assert(t.exists)
    assert(t.snapshots.map(_.operation) === Seq("create", "append"))
    assert(spark.sql("SELECT v FROM ext_ctas ORDER BY id").as[String]
      .collect() === Array("X", "Y"))
    spark.sql("DROP TABLE ext_ctas") // external data survives the drop
    assert(graft.table.GraftTable(spark, s"$wh/ext_ctas").read().count() === 2)
  }

  test("ALTER TABLE ADD COLUMNS evolves through the log; old rows null-fill") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-alter").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_alt", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val t = cat.table("ext_alt")
    val preEvolve = t.latestSnapshotId.get

    spark.sql("ALTER TABLE ext_alt ADD COLUMNS (score DOUBLE, tag STRING)")
    assert(t.latestSnapshot.get.operation === "evolve")
    assert(t.schema.fieldNames.toSeq === Seq("id", "v", "score", "tag"))
    // catalog binding re-resolved: SQL sees the new columns, null-filled
    val rows = spark.sql(
      "SELECT id, score, tag FROM ext_alt ORDER BY id").collect()
    assert(rows.map(_.isNullAt(1)).forall(identity))
    // new column writable through SQL INSERT
    spark.sql("INSERT INTO ext_alt VALUES (3, 'c', 0.5, 'x')")
    assert(spark.sql(
      "SELECT tag FROM ext_alt WHERE id = 3").collect()(0).getString(0) === "x")
    // time travel sees the historical schema (no evolved columns)
    assert(spark.sql(
      s"SELECT * FROM ext_alt VERSION AS OF $preEvolve").columns.toSeq ===
      Seq("id", "v"))
    cat.drop("ext_alt")
  }

  test("ALTER TABLE DROP COLUMN projects the column away; history keeps it") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-drop").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_drop",
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "v", "n"))
    val t = cat.table("ext_drop")
    val preDrop = t.latestSnapshotId.get

    spark.sql("ALTER TABLE ext_drop DROP COLUMN n")
    assert(t.schema.fieldNames.toSeq === Seq("id", "v"))
    assert(spark.sql("SELECT * FROM ext_drop").columns.toSeq ===
      Seq("id", "v"))
    // the bytes survive under the historical schema
    assert(spark.sql(
      s"SELECT n FROM ext_drop VERSION AS OF $preDrop ORDER BY id")
      .as[Int].collect() === Array(10, 20))
    // re-adding a dropped name is refused: name-mapped format would
    // resurrect the old file data under the re-added column
    val e = intercept[Exception](
      spark.sql("ALTER TABLE ext_drop ADD COLUMNS (n INT)"))
    assert(e.getMessage.contains("resurrect"))
    cat.drop("ext_drop")
  }

  test("ALTER TABLE RENAME COLUMN: pure metadata, old files keep their " +
      "data via field ids, time travel shows the old name") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-ren").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_ren",
      Seq((1L, "a", 10), (2L, "b", 20)).toDF("id", "v", "n"))
    val t = cat.table("ext_ren")
    val preRename = t.latestSnapshotId.get

    spark.sql("ALTER TABLE ext_ren RENAME COLUMN v TO label")
    assert(t.latestSnapshot.get.operation === "evolve")
    assert(t.schema.fieldNames.toSeq === Seq("id", "label", "n"))
    // pre-rename file data intact under the new name — id resolution,
    // not name matching (name matching would null-fill here)
    assert(spark.sql("SELECT label FROM ext_ren ORDER BY id")
      .as[String].collect() === Array("a", "b"))
    // writes under the new name mix with old files transparently
    spark.sql("INSERT INTO ext_ren VALUES (3, 'c', 30)")
    assert(spark.sql("SELECT label FROM ext_ren ORDER BY id")
      .as[String].collect() === Array("a", "b", "c"))
    // time travel across the rename keeps the historical name + data
    val tt = spark.sql(
      s"SELECT * FROM ext_ren VERSION AS OF $preRename ORDER BY id")
    assert(tt.columns.toSeq === Seq("id", "v", "n"))
    assert(tt.select("v").as[String].collect() === Array("a", "b"))
    cat.drop("ext_ren")
  }

  test("ALTER COLUMN TYPE widens integers; unsafe widenings refused") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val wh = java.nio.file.Files.createTempDirectory("ext-widen").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    val t = cat.table("ext_widen")
    t.create(StructType(Seq(StructField("id", IntegerType),
      StructField("score", FloatType), StructField("v", StringType))))
    t.append(Seq((1, 1.5f, "a"), (2, 2.5f, "b")).toDF("id", "score", "v"))
    cat.register("ext_widen")

    spark.sql("ALTER TABLE ext_widen ALTER COLUMN id TYPE BIGINT")
    assert(t.schema("id").dataType === LongType)
    assert(t.snapshots.last.operation === "evolve")
    // old INT32 files read as BIGINT; new long rows append normally
    spark.sql("INSERT INTO ext_widen VALUES (3000000000, 3.5, 'c')")
    assert(spark.sql("SELECT id FROM ext_widen ORDER BY id").as[Long]
      .collect() === Array(1L, 2L, 3000000000L))
    // stats pruning still works against old files' recorded int stats
    assert(spark.sql("SELECT v FROM ext_widen WHERE id = 2").as[String]
      .collect() === Array("b"))

    // float→double: supported since r11 — stat strings re-render through
    // the exact conversion at resolution time (FloatWidenSpec pins the
    // pruning soundness; here: the SQL surface works and values are exact)
    spark.sql("ALTER TABLE ext_widen ALTER COLUMN score TYPE DOUBLE")
    assert(t.schema("score").dataType === DoubleType)
    assert(spark.sql("SELECT score FROM ext_widen WHERE id = 2")
      .as[Double].collect() === Array(2.5f.toDouble))
    // narrowing refused
    intercept[Exception](spark.sql(
      "ALTER TABLE ext_widen ALTER COLUMN id TYPE INT"))
    // non-type ALTER COLUMN shapes refused loudly
    val c = intercept[UnsupportedOperationException](spark.sql(
      "ALTER TABLE ext_widen ALTER COLUMN v COMMENT 'x'"))
    assert(c.getMessage.contains("type promotion"))
    cat.drop("ext_widen")
  }

  test("ALTER TABLE SET/UNSET TBLPROPERTIES commit through the log") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-props").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_props", Seq((1L, "a")).toDF("id", "v"))
    val t = cat.table("ext_props")
    spark.sql("ALTER TABLE ext_props SET TBLPROPERTIES " +
      "('graft.merge.mode' = 'mor', 'graft.note' = 'pipeline')")
    assert(t.latestSnapshot.get.operation === "set-properties")
    assert(t.properties === Map(
      "graft.merge.mode" -> "mor", "graft.note" -> "pipeline"))
    // carried forward by later commits
    spark.sql("INSERT INTO ext_props VALUES (2, 'b')")
    assert(t.properties("graft.merge.mode") === "mor")
    spark.sql("ALTER TABLE ext_props UNSET TBLPROPERTIES ('graft.note')")
    assert(t.properties === Map("graft.merge.mode" -> "mor"))
    // SHOW TBLPROPERTIES serves the snapshot log's properties
    assert(spark.sql("SHOW TBLPROPERTIES ext_props").collect()
      .map(r => (r.getString(0), r.getString(1))) ===
      Array(("graft.merge.mode", "mor")))
    assert(spark.sql("SHOW TBLPROPERTIES ext_props ('graft.merge.mode')")
      .select("value").collect()(0).getString(0) === "mor")
    cat.drop("ext_props")
  }

  test("CALL graft.<procedure>: the Iceberg maintenance surface in SQL") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-call").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    val t = cat.table("ext_call")
    t.append((1L to 100L).map(i => (i, s"a$i")).toDF("id", "v").coalesce(2))
    t.append((101L to 200L).map(i => (i, s"b$i")).toDF("id", "v").coalesce(2))
    cat.register("ext_call")
    val preCompact = t.latestSnapshotId.get

    // compact with re-clustering; returns the new snapshot id
    val compacted = spark.sql(
      "CALL graft.compact('ext_call', sort_by => 'id')")
      .as[Long].collect()(0)
    assert(t.latestSnapshotId.get === compacted)
    assert(t.snapshots.last.operation === "compact")
    assert(spark.sql("SELECT count(*) FROM ext_call").as[Long]
      .collect()(0) === 200L)

    // rollback to the pre-compact snapshot (positional arg)
    spark.sql(s"CALL graft.rollback('ext_call', $preCompact)")
    assert(spark.sql("SELECT count(*) FROM ext_call").as[Long]
      .collect()(0) === 200L)

    // scoped compact: a where predicate rewrites only matching files
    val preScoped = t.liveFiles().toSet
    spark.sql("CALL graft.compact('ext_call', where => 'id <= 100')")
    assert(t.snapshots.last.operation === "compact")
    // the second append's files (101..200) are untouched
    assert(t.liveFiles().toSet.intersect(preScoped).size === 2)
    assert(spark.sql("SELECT count(*) FROM ext_call").as[Long]
      .collect()(0) === 200L)

    // rewrite_manifests folds the chain into a base snapshot
    spark.sql("CALL graft.system.rewrite_manifests('ext_call')")
    assert(t.snapshots.last.operation === "rewrite-manifests")

    // expire keeps the last snapshot only (deleting unreferenced files
    // itself); the orphan sweep then collects a crashed-write leftover
    spark.sql("CALL graft.expire_snapshots('ext_call', keep_last => 1)")
    val stray = new java.io.File(s"$wh/ext_call/part-crashed.parquet")
    java.nio.file.Files.write(stray.toPath, Array[Byte](1, 2, 3))
    val swept = spark.sql(
      "CALL graft.remove_orphan_files('ext_call', older_than_ms => 0)")
      .as[Long].collect()(0)
    assert(swept >= 1L)
    assert(!stray.exists)
    assert(spark.sql("SELECT count(*) FROM ext_call").as[Long]
      .collect()(0) === 200L)

    // unknown procedure fails loudly with the supported list
    val e = intercept[Exception](spark.sql("CALL graft.vacuum('ext_call')"))
    assert(e.getMessage.contains("supported"))
    // a TYPO'D argument name errors instead of silently falling back to
    // a destructive default (keep_last=1 would have expired everything)
    val snapsBefore = t.snapshots.size
    val typo = intercept[Exception](spark.sql(
      "CALL graft.expire_snapshots('ext_call', keeplast => 5)"))
    assert(typo.getMessage.contains("unknown argument"))
    assert(t.snapshots.size === snapsBefore) // nothing was expired
    // destructive args are required, never defaulted
    val req = intercept[Exception](spark.sql(
      "CALL graft.expire_snapshots('ext_call')"))
    assert(req.getMessage.contains("keep_last"))
    cat.drop("ext_call")
  }

  test("snapshot tags: VERSION AS OF '<name>' resolves; expire pins tags") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-tag").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_tag", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    val t = cat.table("ext_tag")
    val v1 = t.latestSnapshotId.get
    t.tag("baseline_v1")
    spark.sql("INSERT INTO ext_tag VALUES (3, 'c')")
    spark.sql("INSERT INTO ext_tag VALUES (4, 'd')")

    assert(t.refs === Map("baseline_v1" -> v1))
    assert(t.readTag("baseline_v1").count() === 2)
    // tags are CALL-driveable too
    spark.sql(s"CALL graft.tag('ext_tag', 'v1_sql', $v1)")
    assert(t.refs("v1_sql") === v1)
    spark.sql("CALL graft.drop_tag('ext_tag', 'v1_sql')")
    assert(!t.refs.contains("v1_sql"))
    // DataFrame-API tag read
    assert(spark.read.format("graft").option("tag", "baseline_v1")
      .load(t.location).count() === 2)
    // SQL tag resolution (string VERSION AS OF)
    assert(spark.sql(
      "SELECT id FROM ext_tag VERSION AS OF 'baseline_v1' ORDER BY id")
      .as[Long].collect() === Array(1L, 2L))
    val e = intercept[Exception](
      spark.sql("SELECT * FROM ext_tag VERSION AS OF 'nope'").collect())
    assert(e.getMessage.contains("known tags"))

    // expire would normally keep only the tip — the tag pins its
    // snapshot and everything after it
    t.expireSnapshots(keepLast = 1)
    assert(t.snapshots.head.snapshotId <= v1)
    assert(t.readTag("baseline_v1").count() === 2)
    assert(spark.sql("SELECT count(*) FROM ext_tag").as[Long]
      .collect()(0) === 4L)
    // dropping the tag releases the pin
    t.dropTag("baseline_v1")
    t.expireSnapshots(keepLast = 1)
    assert(spark.sql("SELECT count(*) FROM ext_tag").as[Long]
      .collect()(0) === 4L)
    // a garbage graft.ref.* value is refused by SQL SET TBLPROPERTIES,
    // and even a hand-planted one never poisons refs resolution
    val bad = intercept[Exception](spark.sql(
      "ALTER TABLE ext_tag SET TBLPROPERTIES ('graft.ref.x' = 'oops')"))
    assert(bad.getMessage.contains("snapshot id"))
    t.setProperties(Map("graft.ref.y" -> "not-a-number")) // raw API
    assert(t.refs === Map.empty) // ignored, nothing throws
    t.expireSnapshots(keepLast = 1) // still operational
    cat.drop("ext_tag")
  }

  test("COUNT(*) answers from manifest row counts — no scan; filtered " +
      "counts and time travel stay correct") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-cnt").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_cnt", (1L to 500L).map(i => (i, s"v$i"))
      .toDF("id", "v"))
    cat.register("ext_cnt")
    cat.append("ext_cnt", Seq((501L, "x")).toDF("id", "v"))

    def optimized(sql: String) =
      spark.sql(sql).queryExecution.optimizedPlan
    // the plain count collapses to a LocalRelation — metadata only
    val plan = optimized("SELECT COUNT(*) FROM ext_cnt")
    assert(plan.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation],
      s"expected metadata-only count, got:\n$plan")
    assert(spark.sql("SELECT COUNT(*) FROM ext_cnt").as[Long]
      .collect()(0) === 501L)
    // multiple count outputs fold too
    assert(spark.sql("SELECT COUNT(*) AS a, COUNT(1) AS b FROM ext_cnt")
      .as[(Long, Long)].collect()(0) === ((501L, 501L)))

    // a FILTERED count must NOT rewrite (and must stay correct)
    val filtered = optimized("SELECT COUNT(*) FROM ext_cnt WHERE id <= 10")
    assert(!filtered.isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(spark.sql("SELECT COUNT(*) FROM ext_cnt WHERE id <= 10")
      .as[Long].collect()(0) === 10L)
    // count(col) (null-sensitive) must NOT rewrite
    assert(!optimized("SELECT COUNT(v) FROM ext_cnt").isInstanceOf[
      org.apache.spark.sql.catalyst.plans.logical.LocalRelation])

    // time travel counts its own snapshot — also metadata-only
    val t = cat.table("ext_cnt")
    val v0 = t.snapshots.filter(_.operation == "append").head.snapshotId
    assert(spark.sql(s"SELECT COUNT(*) FROM ext_cnt VERSION AS OF $v0")
      .as[Long].collect()(0) === 500L)
    cat.drop("ext_cnt")
  }

  test("TRUNCATE TABLE commits through the snapshot log — history " +
      "survives, the log is NOT rm'd, inserts keep working") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-trunc").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_trunc", Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    cat.register("ext_trunc")
    val t = cat.table("ext_trunc")
    val preTip = t.latestSnapshotId.get
    spark.sql("TRUNCATE TABLE ext_trunc")
    assert(spark.sql("SELECT COUNT(*) FROM ext_trunc").as[Long]
      .collect()(0) === 0L)
    // a COMMIT, not an rm: the chain extends and old state time-travels
    assert(t.snapshots.last.operation === "overwrite")
    assert(t.readAsOf(preTip).count() === 2)
    // the table keeps working
    spark.sql("INSERT INTO ext_trunc VALUES (9, 'z')")
    assert(spark.sql("SELECT id FROM ext_trunc").as[Long]
      .collect() === Array(9L))
    cat.drop("ext_trunc")
  }

  test("unsupported SQL write shapes fail loudly, committing nothing") {
    import spark.implicits._
    val wh = java.nio.file.Files.createTempDirectory("ext-unsup").toString
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("ext_u", Seq((1L, "a")).toDF("id", "v"))
    Seq((1L, "x")).toDF("id", "v").createOrReplaceTempView("ext_u_src")
    def causes(t: Throwable): Seq[Throwable] =
      if (t == null) Seq.empty else t +: causes(t.getCause)
    val snapBefore = cat.table("ext_u").latestSnapshotId.get
    // a non-equi ON condition has no merge-key mapping — unsupported
    // (the clause MATRIX itself became fully supported in r11:
    // conditional inserts/deletes, multiple WHEN MATCHED, conditional
    // NOT MATCHED BY SOURCE — see MergeMatrixSpec)
    val e = intercept[Exception](spark.sql(
      """MERGE INTO ext_u t USING ext_u_src s ON t.id >= s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *"""
        .stripMargin))
    assert(causes(e).exists(c => Option(c.getMessage).exists(
      _.contains("not supported on graft tables"))))
    assert(cat.table("ext_u").latestSnapshotId.get === snapBefore)
    assert(cat.table("ext_u").read().count() === 1) // untouched
    cat.drop("ext_u")
  }
}
