package graft.table

/** Fixture: a table whose live tombstone lacks a field every current
  * writer records. MOR-merges one row into `t` (an `(id, v, ts)` table),
  * then hand-writes the next snapshot, which swaps the merge's tombstone
  * for a copy without `field` ("bytes" or "cols"). Returns the
  * tombstone. */
object LegacyTombstone {
  def apply(t: GraftTable, field: String): DeleteFile = {
    val spark = t.sparkSession
    import spark.implicits._
    t.merge(Seq((3L, "upd", 2L)).toDF("id", "v", "ts"),
      Seq("id"), Seq("id"), "ts", mode = "mor")
    val d = t.liveDeletes().head
    val kept = Map("bytes" -> """"cols": ["id"]""",
      "cols" -> """"bytes": 100""")(field)
    val id = t.latestSnapshotId.get + 1
    val schemaJson = t.schema.json.replace("\"", "\\\"")
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(t.location, "_graft", f"snap-$id%08d.json"),
      s"""{"snapshotId": $id, "parentId": ${id - 1}, "timestampMs": 0,
         | "operation": "merge", "addedFiles": [], "removedFiles": [],
         | "schemaJson": "$schemaJson", "partitionCols": [],
         | "addedDeleteFiles": [{"path": "${d.path}", "seq": ${d.seq}, $kept}],
         | "removedDeleteFiles": ["${d.path}"]}""".stripMargin)
    d
  }
}
