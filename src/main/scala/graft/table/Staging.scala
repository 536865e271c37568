package graft.table

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}

/** The one publish step for files a Spark write staged in a private
  * directory: every bronze append, silver rewrite, tombstone batch and
  * converted Iceberg position-delete file goes through [[moveStaged]],
  * on the table's own FileSystem, whatever its scheme.
  *
  * Listing is a `listStatus` walk, never `listFiles(dir, true)`: on
  * `file:` without native Hadoop, `listFiles` builds a
  * `LocatedFileStatus` per file, whose permission copy forks `stat` once
  * per file (on a 4-core host: 3–4 ms a file, against 0.2–0.5 ms for
  * the whole walk and move of one file). On an object store the walk costs
  * one LIST per directory of the stage (1 + the partition directories
  * the batch touched) where `listFiles` is one flat LIST; the per-file
  * rename (a COPY and a DELETE there) costs far more than either. */
object Staging {

  /** Every file under `dir`, with its path relative to `dir` built from
    * the listed names (so a percent-encoded or space-holding prefix
    * never has to be matched back out of a URI). */
  def walk(fs: FileSystem, dir: Path): Seq[(String, FileStatus)] =
    fs.listStatus(dir).toSeq.flatMap { s =>
      val name = s.getPath.getName
      if (s.isDirectory) walk(fs, s.getPath).map { case (rel, f) =>
        (s"$name/$rel", f) }
      else Seq(name -> s)
    }

  /** Rename each `.parquet` file under `stage` to `root/destOf(rel)`,
    * where `rel` is its path relative to `stage`, then delete `stage`.
    * Returns each destination's `root`-relative path and its size as
    * listed. Destination names are unique per write (Spark's per-job
    * UUID in `part-*` names, or a fresh UUID from `destOf`), so a rename
    * never meets an existing file. */
  def moveStaged(fs: FileSystem, stage: Path, root: Path)(
      destOf: String => String): Seq[(String, Long)] = {
    val moved = walk(fs, stage).collect {
      case (rel, f) if rel.endsWith(".parquet") =>
        val destRel = destOf(rel)
        val dest = new Path(root, destRel)
        fs.mkdirs(dest.getParent)
        if (!fs.rename(f.getPath, dest))
          throw new IllegalStateException(s"failed to move $rel into $root")
        (destRel, f.getLen)
    }
    fs.delete(stage, true)
    moved
  }
}
