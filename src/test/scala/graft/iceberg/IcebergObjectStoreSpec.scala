package graft.iceberg

import java.io.File

import org.apache.spark.sql.functions._

import graft.{CountFs, SparkSpec}
import graft.table.GraftTable

/** Iceberg metadata written on a table that is not on `file:` — the
  * object-store case, run on [[CountFs]]. Every manifest and manifest
  * list must be created through the table's FileSystem: a write that
  * bypasses it (a `java.io.File` at the path's local part) would, on a
  * real store, publish metadata naming files the store does not hold. */
class IcebergObjectStoreSpec extends SparkSpec {
  import spark.implicits._

  test("export and write-back on a non-file scheme create every " +
      "manifest and manifest list through the table's FileSystem") {
    CountFs.install(spark.sparkContext.hadoopConfiguration)
    CountFs.reset()
    val dir = tmpDir("ice-countfs")
    val t = GraftTable(spark, s"${CountFs.Scheme}://$dir/t")
    t.append((1L to 20L).map(i => (i, s"v$i")).toDF("id", "v"))
    t.append((21L to 30L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergExport.export(spark, t)
    IcebergWriteBack.appendTo(spark, t.location,
      (31L to 40L).map(i => (i, s"v$i")).toDF("id", "v"))
    IcebergWriteBack.deleteWhere(spark, t.location, expr("id % 5 = 0"))
    IcebergWriteBack.compactSmallFiles(spark, t.location)
    IcebergWriteBack.appendTo(spark, t.location,
      Seq((41L, "v41")).toDF("id", "v"))
    IcebergWriteBack.rewriteManifests(spark, t.location)

    val metaDir = new File(dir, "t/metadata")
    val avro = metaDir.listFiles().filter(_.getName.endsWith(".avro"))
      .map(_.getPath).toSet
    assert(avro.size >= 10, s"expected the ops' manifests, got $avro")
    val bypassed = avro -- CountFs.createdPaths
    assert(bypassed.size === 0,
      s"of ${avro.size} manifests, these were written around the " +
        s"FileSystem: ${bypassed.toSeq.sorted.mkString(", ")}")

    val expect = (1L to 41L).filter(_ % 5 != 0)
    assert(IcebergImport.read(spark, t.location).select("id").as[Long]
      .collect().sorted.toSeq === expect)
    assert(IcebergImport.plan(spark, t.location).files.forall(
      _.uri.startsWith(s"${CountFs.Scheme}:")))
  }
}
