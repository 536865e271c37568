package graft.table

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** The GENERAL ANSI MERGE clause matrix (the shapes beyond r10's named
  * primitives): conditional NOT MATCHED INSERT, bare/conditional
  * MATCHED DELETE (non-CDC predicates over target+source), MULTIPLE
  * WHEN MATCHED clauses with SQL's first-match-wins ordering,
  * column-level INSERT values, and conditional NOT MATCHED BY SOURCE
  * DELETE/UPDATE. The SQL layer compiles clause lists into mutually
  * exclusive effective conditions + per-column CASE expressions
  * (GraftSqlRule.toMergeCommand), so the engine applies the
  * whole matrix in ONE matched-join pass. */
class MergeMatrixSpec extends SparkSpec {
  import spark.implicits._

  private def cat() = graft.catalog.GraftCatalog(spark,
    java.nio.file.Files.createTempDirectory("merge-matrix").toString)

  private def rows(c: graft.catalog.GraftCatalog, t: String) =
    spark.sql(s"SELECT id, v, n FROM $t ORDER BY id")
      .as[(Long, String, Long)].collect().toSeq

  test("conditional WHEN NOT MATCHED AND cond THEN INSERT: only " +
      "qualifying source rows insert; NULL condition = no fire") {
    val c = cat()
    c.createFrom("mm_ci", Seq((1L, "a", 10L)).toDF("id", "v", "n"))
    // 2 qualifies (n>5), 3 fails, 4 NULLs the condition (n null)
    Seq((2L, "b", Some(6L)), (3L, "c", Some(5L)), (4L, "d", None))
      .toDF("id", "v", "n").createOrReplaceTempView("mm_ci_src")
    spark.sql(
      """MERGE INTO mm_ci t USING mm_ci_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.n > 5 THEN INSERT *""".stripMargin)
    assert(rows(c, "mm_ci") === Seq((1L, "a", 10L), (2L, "b", 6L)))
    c.drop("mm_ci")
  }

  test("bare WHEN MATCHED THEN DELETE (sole clause): matched keys " +
      "vanish, unmatched source rows are NOT inserted") {
    val c = cat()
    c.createFrom("mm_bd",
      Seq((1L, "a", 1L), (2L, "b", 2L), (3L, "c", 3L)).toDF("id", "v", "n"))
    Seq((2L, "x", 0L), (9L, "y", 0L)).toDF("id", "v", "n")
      .createOrReplaceTempView("mm_bd_src")
    spark.sql(
      """MERGE INTO mm_bd t USING mm_bd_src s ON t.id = s.id
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(rows(c, "mm_bd") === Seq((1L, "a", 1L), (3L, "c", 3L)))
    c.drop("mm_bd")
  }

  test("conditional MATCHED DELETE over target+source values (non-CDC " +
      "predicate) with fallthrough update") {
    val c = cat()
    c.createFrom("mm_cd",
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
        .toDF("id", "v", "n"))
    Seq((1L, "A", 99L), (2L, "B", 5L), (3L, "C", 31L), (4L, "D", 4L))
      .toDF("id", "v", "n").createOrReplaceTempView("mm_cd_src")
    // delete where the SOURCE value beats the TARGET's (1: 99>10 del,
    // 3: 31>30 del); 2 falls through to the update; 4 inserts
    spark.sql(
      """MERGE INTO mm_cd t USING mm_cd_src s ON t.id = s.id
        |WHEN MATCHED AND s.n > t.n THEN DELETE
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(rows(c, "mm_cd") === Seq((2L, "B", 5L), (4L, "D", 4L)))
    c.drop("mm_cd")
  }

  test("multiple WHEN MATCHED clauses: SQL first-match-wins ordering, " +
      "per-clause column-level assignments") {
    val c = cat()
    c.createFrom("mm_fm",
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
        .toDF("id", "v", "n"))
    Seq((1L, "s1", 100L), (2L, "s2", 15L), (3L, "s3", 2L), (4L, "s4", 40L))
      .toDF("id", "v", "n").createOrReplaceTempView("mm_fm_src")
    // clause 1 fires for 1 (s.n=100), clause 2 for 2 and 4 (s.n>=15),
    // clause 3 (unconditional) for 3. A row matching an earlier clause
    // must NOT also take a later one.
    spark.sql(
      """MERGE INTO mm_fm t USING mm_fm_src s ON t.id = s.id
        |WHEN MATCHED AND s.n >= 100 THEN UPDATE SET v = 'big', n = s.n * 2
        |WHEN MATCHED AND s.n >= 15 THEN UPDATE SET v = 'mid'
        |WHEN MATCHED THEN UPDATE SET n = t.n + s.n""".stripMargin)
    assert(rows(c, "mm_fm") === Seq(
      (1L, "big", 200L),  // clause 1: both assignments
      (2L, "mid", 20L),   // clause 2: n unassigned keeps target
      (3L, "c", 32L),     // clause 3: v unassigned keeps target
      (4L, "mid", 40L)))  // clause 2 (s.n=40 ≥ 15), NOT clause 3
    c.drop("mm_fm")
  }

  test("clause ORDER is semantics: delete-before-update vs " +
      "update-before-delete differ on the overlap") {
    val c = cat()
    def run(name: String, sql: String): Seq[(Long, String, Long)] = {
      c.createFrom(name, Seq((1L, "a", 10L)).toDF("id", "v", "n"))
      Seq((1L, "x", 50L)).toDF("id", "v", "n")
        .createOrReplaceTempView(name + "_src")
      spark.sql(sql.replace("__T__", name).replace("__S__", name + "_src"))
      val out = rows(c, name); c.drop(name); out
    }
    // n=50 satisfies BOTH conditions — the first clause must win
    val delFirst = run("mm_ord1",
      """MERGE INTO __T__ t USING __S__ s ON t.id = s.id
        |WHEN MATCHED AND s.n > 20 THEN DELETE
        |WHEN MATCHED AND s.n > 0 THEN UPDATE SET *""".stripMargin)
    val updFirst = run("mm_ord2",
      """MERGE INTO __T__ t USING __S__ s ON t.id = s.id
        |WHEN MATCHED AND s.n > 0 THEN UPDATE SET *
        |WHEN MATCHED AND s.n > 20 THEN DELETE""".stripMargin)
    assert(delFirst === Seq.empty)              // deleted
    assert(updFirst === Seq((1L, "x", 50L)))    // updated, delete dead
  }

  test("column-level INSERT (cols) VALUES (exprs): unassigned columns " +
      "insert NULL; multiple insert clauses first-match-wins") {
    val c = cat()
    c.createFrom("mm_iv", Seq((1L, "a", 10L)).toDF("id", "v", "n"))
    Seq((2L, "big", 100L), (3L, "small", 1L)).toDF("id", "v", "n")
      .createOrReplaceTempView("mm_iv_src")
    spark.sql(
      """MERGE INTO mm_iv t USING mm_iv_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.n >= 100 THEN
        |  INSERT (id, v) VALUES (s.id, concat('B-', s.v))
        |WHEN NOT MATCHED THEN INSERT (id, n) VALUES (s.id, s.n)"""
        .stripMargin)
    val got = spark.sql(
      "SELECT id, v, n FROM mm_iv ORDER BY id").collect().map(r =>
      (r.getLong(0), Option(r.getString(1)),
        if (r.isNullAt(2)) None else Some(r.getLong(2))))
    assert(got.toSeq === Seq(
      (1L, Some("a"), Some(10L)),
      (2L, Some("B-big"), None),   // clause 1: n unassigned → NULL
      (3L, None, Some(1L))))       // clause 2: v unassigned → NULL
    c.drop("mm_iv")
  }

  test("conditional WHEN NOT MATCHED BY SOURCE: DELETE stale rows, " +
      "UPDATE the rest, leave matched/inserted untouched") {
    val c = cat()
    c.createFrom("mm_bs",
      Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L), (4L, "d", 40L))
        .toDF("id", "v", "n"))
    Seq((1L, "A", 11L), (9L, "I", 90L)).toDF("id", "v", "n")
      .createOrReplaceTempView("mm_bs_src")
    // target-only rows: 2 (n=20 < 35 → flagged), 3/4 (n>=25… 3: n=30
    // deleted? order: delete where n >= 30 first, else flag)
    spark.sql(
      """MERGE INTO mm_bs t USING mm_bs_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.n >= 30 THEN DELETE
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = 'stale'"""
        .stripMargin)
    assert(rows(c, "mm_bs") === Seq(
      (1L, "A", 11L),      // matched update
      (2L, "stale", 20L),  // target-only, survives flagged
      (9L, "I", 90L)))     // insert; 3 and 4 deleted (n>=30)
    c.drop("mm_bs")
  }

  test("API path: general matrix via MergeExtras on a MOR-mode table " +
      "(matched delete through tombstone + re-insert)") {
    val t = GraftTable(spark, tmpDir("mm-api") + "/t")
    t.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "n"))
    t.merge(Seq((1L, "x", 99L), (2L, "y", 5L), (7L, "z", 70L), (8L, "w", 1L))
      .toDF("id", "v", "n"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id",
      mode = "mor",
      extras = MergeInto.MergeExtras(
        deleteCond = Some(MergeInto.srcCol("n") > col("n")), // 1: 99>10
        // insertCond evaluates over the PLAIN-named source frame
        insertCond = Some(col("n") >= lit(10L)))) // 7 in, 8 out
    assert(t.read().select("id", "v", "n").orderBy("id")
      .as[(Long, String, Long)].collect().toSeq === Seq(
      (2L, "y", 5L),    // update (delete cond false: 5 < 20)
      (3L, "c", 30L),   // untouched
      (7L, "z", 70L)))  // conditional insert passed
    // the general matched-delete path went through MOR tombstones
    assert(t.snapshots.last.operation === "merge")
  }

  test("insert condition may reference EXTRA source columns that are " +
      "not target columns") {
    val c = cat()
    c.createFrom("mm_ex", Seq((1L, "a", 10L)).toDF("id", "v", "n"))
    Seq((2L, "b", 2L, true), (3L, "c", 3L, false))
      .toDF("id", "v", "n", "keep").createOrReplaceTempView("mm_ex_src")
    spark.sql(
      """MERGE INTO mm_ex t USING mm_ex_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.keep THEN INSERT (id, v, n)
        |  VALUES (s.id, s.v, s.n)""".stripMargin)
    assert(rows(c, "mm_ex") === Seq((1L, "a", 10L), (2L, "b", 2L)))
    c.drop("mm_ex")
  }
}
