package graft

import java.net.URI
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, FileStatus, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local disk under its own scheme, `countfs:` — the shape of an
  * object store to the engine: no `file:` scheme, so none of the
  * local-filesystem fast paths apply, and every file the engine means
  * to write must pass through [[create]], which records its path.
  *
  * Statuses are plain [[FileStatus]] copies: Hadoop's
  * `DeprecatedRawLocalFileStatus` loads permissions through
  * `new File(uri)`, which refuses a URI whose scheme is not `file`.
  * A rename onto an existing path overwrites (it is the local disk's
  * rename), so tables on this scheme run single-writer. */
class CountFs extends RawLocalFileSystem {
  override def getScheme: String = CountFs.Scheme
  override def getUri: URI = URI.create(s"${CountFs.Scheme}:///")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountFs.record(f)
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountFs.record(f)
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    CountFs.record(f)
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }

  override def listStatus(f: Path): Array[FileStatus] =
    super.listStatus(f).map(plain)

  override def getFileStatus(f: Path): FileStatus =
    plain(super.getFileStatus(f))

  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, makeQualified(s.getPath))
}

object CountFs {
  val Scheme = "countfs"

  private val created = new ConcurrentLinkedQueue[String]()

  private def record(f: Path): Unit = created.add(f.toUri.getPath)

  /** The local paths passed to `create` since the last [[reset]]. */
  def createdPaths: Set[String] = created.asScala.toSet

  def reset(): Unit = created.clear()

  /** Register the scheme on `conf` (the session's Hadoop conf). */
  def install(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CountFs].getName)
    conf.setClassLoader(classOf[CountFs].getClassLoader)
  }
}
