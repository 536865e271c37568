package graft.table

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Column-level `WHEN MATCHED THEN UPDATE SET c = expr` (ANSI MERGE's
  * partial update): matched rows keep unassigned columns, assignments
  * may mix target (plain) and source ([[MergeInto.srcCol]]) values,
  * NOT MATCHED rows insert the full source row, delete-op rows delete.
  * Same file-bounded pruning as full-row merges; MOR additionally
  * reads the key-overlapping files (bounded) for unassigned columns. */
class MergeUpdateSetSpec extends SparkSpec {
  import spark.implicits._

  private def fresh(name: String) = GraftTable(spark, tmpDir(name) + "/t")

  private def rows(t: GraftTable) =
    t.read().select("id", "v", "n").orderBy("id")
      .as[(Long, String, Long)].collect().toSeq

  test("COW: assigned columns update (source + target refs), unassigned " +
      "keep target values, not-matched inserts full rows") {
    val t = fresh("mus-cow")
    t.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "n"))
    val batch = Seq((2L, "B2", 999L), (4L, "d", 40L)).toDF("id", "v", "n")
    t.merge(batch, keys = Seq("id"), dedupKey = Seq("id"),
      orderCol = "id",
      // v from the source; n accumulates target + source — the batch's
      // n=999 must NOT replace, and unmatched row 4 inserts raw
      updateSet = Some(Seq(
        "v" -> MergeInto.srcCol("v"),
        "n" -> (col("n") + MergeInto.srcCol("n")))))
    assert(rows(t) === Seq((1L, "a", 10L), (2L, "B2", 1019L),
      (3L, "c", 30L), (4L, "d", 40L)))
  }

  test("MOR: same semantics through tombstone + re-insert; delete branch " +
      "still deletes; repeated merges accumulate") {
    val t = fresh("mus-mor")
    t.append(Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"))
    def step(batch: Seq[(Long, String, Long, String)]): Unit =
      t.merge(batch.toDF("id", "v", "n", "op"),
        keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id",
        opCol = Some("op"), mode = "mor",
        updateSet = Some(Seq("n" -> (col("n") + MergeInto.srcCol("n")))))
    step(Seq((1L, "x", 5L, null), (3L, "c", 30L, null)))
    // 1 matched: v KEPT (unassigned), n = 10+5; 3 inserted raw
    assert(rows(t) === Seq((1L, "a", 15L), (2L, "b", 20L), (3L, "c", 30L)))
    step(Seq((1L, "y", 5L, null), (2L, "z", 0L, "D")))
    assert(rows(t) === Seq((1L, "a", 20L), (3L, "c", 30L)))
    // unmatched delete-op row: dropped, not inserted
    step(Seq((9L, "g", 1L, "D")))
    assert(rows(t) === Seq((1L, "a", 20L), (3L, "c", 30L)))
  }

  test("assigning a merge key or an unknown column fails loud") {
    val t = fresh("mus-guard")
    t.append(Seq((1L, "a", 10L)).toDF("id", "v", "n"))
    val b = Seq((1L, "x", 1L)).toDF("id", "v", "n")
    val e1 = intercept[IllegalArgumentException](
      t.merge(b, Seq("id"), Seq("id"), "id",
        updateSet = Some(Seq("id" -> lit(9L)))))
    assert(e1.getMessage.contains("merge key"))
    val e2 = intercept[IllegalArgumentException](
      t.merge(b, Seq("id"), Seq("id"), "id",
        updateSet = Some(Seq("nope" -> lit(9L)))))
    assert(e2.getMessage.contains("unknown column"))
  }

  test("syncDelete (WHEN NOT MATCHED BY SOURCE THEN DELETE): target-only " +
      "rows vanish; matched update + source-only insert still apply") {
    val t = fresh("mus-sync")
    t.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "n"))
    // full-row replace + sync: result ≡ the deduped source
    t.merge(Seq((2L, "B", 200L), (4L, "d", 40L)).toDF("id", "v", "n"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id",
      syncDelete = true)
    assert(rows(t) === Seq((2L, "B", 200L), (4L, "d", 40L)))
    // partial update + sync: matched keeps unassigned target columns
    t.merge(Seq((4L, "ZZZ", 2L), (7L, "g", 70L)).toDF("id", "v", "n"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id",
      updateSet = Some(Seq("n" -> (col("n") + MergeInto.srcCol("n")))),
      syncDelete = true)
    assert(rows(t) === Seq((4L, "d", 42L), (7L, "g", 70L)))
    // time travel still sees the pre-sync states
    assert(t.readAsOf(1L).count() === 3)
  }

  test("SQL MERGE: NOT MATCHED BY SOURCE DELETE end to end") {
    val wh = tmpDir("mus-sync-sql-wh")
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("mus_sync",
      Seq((1L, "a"), (2L, "b")).toDF("id", "v"))
    cat.register("mus_sync")
    Seq((2L, "B"), (9L, "i")).toDF("id", "v")
      .createOrReplaceTempView("mus_sync_src")
    spark.sql(
      """MERGE INTO mus_sync t USING mus_sync_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    assert(spark.sql("SELECT id, v FROM mus_sync ORDER BY id")
      .as[(Long, String)].collect().toSeq === Seq((2L, "B"), (9L, "i")))
    cat.drop("mus_sync")
  }

  test("updateCond (WHEN MATCHED AND cond THEN UPDATE): failing or NULL " +
      "condition keeps the target row; composes with full-row and " +
      "column-level updates, COW and MOR") {
    val t = fresh("mus-cond")
    t.append(Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("id", "v", "n"))
    // full-row + condition on the SOURCE value: only n>=100 replaces
    t.merge(Seq((1L, "A", 100L), (2L, "B", 5L), (4L, "d", 40L))
      .toDF("id", "v", "n"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id",
      updateCond = Some(MergeInto.srcCol("n") >= 100L))
    assert(rows(t) === Seq((1L, "A", 100L), (2L, "b", 20L),
      (3L, "c", 30L), (4L, "d", 40L)))
    // column-level + condition on the TARGET value, MOR mode
    t.merge(Seq((2L, "x", 1L), (3L, "y", 1L)).toDF("id", "v", "n"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id",
      mode = "mor",
      updateSet = Some(Seq("n" -> (col("n") + MergeInto.srcCol("n")))),
      updateCond = Some(col("n") >= 30L)) // only id=3 passes (n=30)
    assert(rows(t) === Seq((1L, "A", 100L), (2L, "b", 20L),
      (3L, "c", 31L), (4L, "d", 40L)))
    // NULL condition = clause does not fire (three-valued logic)
    t.merge(Seq((4L, "Z", null.asInstanceOf[java.lang.Long]))
      .toDF("id", "v", "n"),
      keys = Seq("id"), dedupKey = Seq("id"), orderCol = "id",
      updateCond = Some(MergeInto.srcCol("n") > 0L))
    assert(rows(t).find(_._1 == 4L).get === ((4L, "d", 40L)))
  }

  test("SQL MERGE: conditional matched update end to end") {
    val wh = tmpDir("mus-cond-sql-wh")
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("mus_cond",
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"))
    cat.register("mus_cond")
    Seq((1L, "A", 5L), (2L, "B", 99L), (7L, "g", 1L))
      .toDF("id", "v", "n").createOrReplaceTempView("mus_cond_src")
    spark.sql(
      """MERGE INTO mus_cond t USING mus_cond_src s ON t.id = s.id
        |WHEN MATCHED AND s.n > t.n THEN UPDATE SET v = s.v, n = s.n
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT id, v, n FROM mus_cond ORDER BY id")
      .as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 10L), (2L, "B", 99L), (7L, "g", 1L)))
    cat.drop("mus_cond")
  }

  test("SQL MERGE with column-level UPDATE SET (incl. t./s. refs)") {
    val wh = tmpDir("mus-sql-wh")
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("mus_sql",
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"))
    cat.register("mus_sql")
    Seq((2L, "B2", 7L), (5L, "e", 50L)).toDF("id", "v", "n")
      .createOrReplaceTempView("mus_src")
    spark.sql(
      """MERGE INTO mus_sql t USING mus_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v, n = t.n + s.n
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(spark.sql("SELECT id, v, n FROM mus_sql ORDER BY id")
      .as[(Long, String, Long)].collect().toSeq ===
      Seq((1L, "a", 10L), (2L, "B2", 27L), (5L, "e", 50L)))
    cat.drop("mus_sql")
  }

  /** Files of `loc`'s table scanned by every query executed while `f`
    * runs (writes included: their input plans are walked too). */
  private def targetFilesScanned(loc: String)(f: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution._
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: adaptive.AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: adaptive.QueryStageExec => scans(q.plan)
      case m: columnar.InMemoryTableScanExec =>
        scans(m.relation.cachedPlan)
      case s: FileSourceScanExec => Seq(s)
      case other =>
        (other.children ++ other.subqueries).flatMap(scans)
    }
    def path(l: String) = new org.apache.hadoop.fs.Path(l).toUri.getPath
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          ns: Long): Unit =
        scans(qe.executedPlan).foreach(_.relation.location match {
          case g: graft.sources.GraftFileIndex
              if path(g.location) == path(loc) =>
            g.inputFiles.foreach(seen.add)
          case _ => ()
        })
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(l)
    try { f; org.apache.spark.sql.graftglue.GraftSqlGlue
      .drainListenerBus(spark.sparkContext) }
    finally spark.listenerManager.unregister(l)
    import scala.jdk.CollectionConverters._
    seen.asScala.toSeq
  }

  test("SQL MERGE on a MOR table: the CDC shape and the bare " +
      "UPDATE SET * / INSERT * shape commit tombstone + append and " +
      "scan no target data file") {
    val wh = tmpDir("mus-mor-sql-wh")
    val cat = graft.catalog.GraftCatalog(spark, wh)
    // one table per shape: once tombstones apply, the SQL relation over
    // a MOR table refuses to resolve until compaction folds them
    def morMerge(name: String, src: org.apache.spark.sql.DataFrame,
        clauses: String): Seq[(Long, String, Long)] = {
      cat.createFrom(name, Seq((1L, "a", 10L), (2L, "b", 20L),
        (3L, "c", 30L)).toDF("id", "v", "n"))
      cat.register(name)
      val t = cat.table(name)
      t.setProperties(Map("graft.merge.mode" -> "mor"))
      src.createOrReplaceTempView(name + "_src")
      val before = t.liveFiles().toSet
      val scanned = targetFilesScanned(t.location)(spark.sql(
        s"MERGE INTO $name t USING ${name}_src s ON t.id = s.id\n" +
          clauses))
      assert(scanned.isEmpty, s"merge scanned target files $scanned")
      val snap = t.snapshots.last
      assert(snap.operation === "merge")
      assert(snap.addedDeleteFiles.exists(_.size == 1)) // tombstone
      assert(t.addedFilesOf(snap).nonEmpty)               // append
      assert(t.removedFilesOf(snap).isEmpty)
      assert(before.subsetOf(t.liveFiles().toSet))
      rows(t)
    }
    // CDC shape; 9 is an unmatched delete-op row and is not inserted
    assert(morMerge("mus_mor_cdc",
      Seq((2L, "B", 21L, "U"), (3L, "x", 0L, "D"), (4L, "d", 40L, "I"),
        (9L, "z", 0L, "D")).toDF("id", "v", "n", "op"),
      """WHEN MATCHED AND s.op IN ('D') THEN DELETE
        |WHEN MATCHED THEN UPDATE SET v = s.v, n = s.n
        |WHEN NOT MATCHED THEN INSERT (id, v, n) VALUES (s.id, s.v, s.n)"""
        .stripMargin) ===
      Seq((1L, "a", 10L), (2L, "B", 21L), (4L, "d", 40L)))
    assert(morMerge("mus_mor_bare",
      Seq((1L, "A", 11L), (5L, "e", 50L)).toDF("id", "v", "n"),
      """WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin) ===
      Seq((1L, "A", 11L), (2L, "b", 20L), (3L, "c", 30L), (5L, "e", 50L)))
    cat.drop("mus_mor_cdc"); cat.drop("mus_mor_bare")
  }

  test("SQL conditional UPDATE SET * and column-level UPDATE SET agree " +
      "with the equivalent GraftTable.merge calls") {
    val wh = tmpDir("mus-eq-sql-wh")
    val cat = graft.catalog.GraftCatalog(spark, wh)
    val init = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
    // NULL n on 3 NULLs the condition: the target row stays
    val batch = Seq((1L, "A", Some(5L)), (2L, "B", Some(99L)),
      (3L, "C", None), (7L, "g", Some(1L))).toDF("id", "v", "n")
    batch.createOrReplaceTempView("mus_eq_src")
    def viaSql(name: String, whenMatched: String) = {
      cat.createFrom(name, init.toDF("id", "v", "n"))
      cat.register(name)
      spark.sql(
        s"""MERGE INTO $name t USING mus_eq_src s ON t.id = s.id
           |$whenMatched
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      val out = spark.sql(s"SELECT id, v, n FROM $name ORDER BY id")
        .collect().toSeq
      cat.drop(name); out
    }
    def viaApi(f: GraftTable => Unit) = {
      val t = fresh("mus-eq-api")
      t.append(init.toDF("id", "v", "n"))
      f(t)
      t.read().select("id", "v", "n").orderBy("id").collect().toSeq
    }
    val condStar = viaSql("mus_eq_cond",
      "WHEN MATCHED AND s.n > t.n THEN UPDATE SET *")
    assert(condStar === viaApi(_.merge(batch, keys = Seq("id"),
      dedupKey = Seq("id"), orderCol = "id",
      updateCond = Some(MergeInto.srcCol("n") > col("n")))))
    assert(condStar.map(_.getString(1)) === Seq("a", "B", "c", "g"))
    val colLevel = viaSql("mus_eq_col",
      "WHEN MATCHED THEN UPDATE SET v = concat(t.v, s.v), " +
        "n = coalesce(s.n, -1)")
    assert(colLevel === viaApi(_.merge(batch, keys = Seq("id"),
      dedupKey = Seq("id"), orderCol = "id",
      updateSet = Some(Seq("v" -> concat(col("v"), MergeInto.srcCol("v")),
        "n" -> coalesce(MergeInto.srcCol("n"), lit(-1L)))))))
    assert(colLevel.map(_.getString(1)) === Seq("aA", "bB", "cC", "g"))
  }

  test("SQL MERGE: a partial list of same-named source columns is not a " +
      "full-row copy — unassigned columns keep the target value or " +
      "insert NULL") {
    val wh = tmpDir("mus-part-wh")
    val cat = graft.catalog.GraftCatalog(spark, wh)
    cat.createFrom("mus_part",
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "v", "n"))
    cat.register("mus_part")
    Seq((2L, "B", 99L), (5L, "e", 50L)).toDF("id", "v", "n")
      .createOrReplaceTempView("mus_part_src")
    spark.sql(
      """MERGE INTO mus_part t USING mus_part_src s ON t.id = s.id
        |WHEN MATCHED THEN UPDATE SET v = s.v
        |WHEN NOT MATCHED THEN INSERT (id, v) VALUES (s.id, s.v)"""
        .stripMargin)
    val got = spark.sql("SELECT id, v, n FROM mus_part ORDER BY id")
      .collect().toSeq.map(r =>
        (r.getLong(0), r.getString(1), Option(r.get(2))))
    assert(got === Seq((1L, "a", Some(10L)), (2L, "B", Some(20L)),
      (5L, "e", None)))
    cat.drop("mus_part")
  }
}
