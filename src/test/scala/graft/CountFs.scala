package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus, LocatedFileStatus, Path, RawLocalFileSystem, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable

/** The local disk under its own scheme, `countfs:` — the shape of an
  * object store to the engine: no `file:` scheme, so none of the
  * local-filesystem fast paths apply. It counts, per path, every
  * `create`, `listStatus`, `listLocatedStatus`, `getFileStatus`, `open`
  * and `rename` the engine makes (see [[CountFs.count]]) — the calls
  * that are a LIST, HEAD, GET or COPY request each on an object store.
  *
  * Statuses are plain [[FileStatus]] copies: Hadoop's
  * `DeprecatedRawLocalFileStatus` loads permissions through
  * `new File(uri)`, which refuses a URI whose scheme is not `file`.
  * A rename onto an existing path returns false and leaves both paths
  * as they were (HDFS's contract, which `LinkCommitLock` relies on
  * off `file:`), so concurrent commits on this scheme collide as they
  * would there. */
class CountFs extends RawLocalFileSystem {
  import CountFs.counted

  override def getScheme: String = CountFs.Scheme
  override def getUri: URI = URI.create(s"${CountFs.Scheme}:///")

  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create", f)(super.create(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))

  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create", f)(super.create(f, overwrite, bufferSize,
      replication, blockSize, progress))

  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int,
      replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    counted("create", f)(super.createNonRecursive(f, permission, flags,
      bufferSize, replication, blockSize, progress))

  override def listStatus(f: Path): Array[FileStatus] =
    counted("list", f)(super.listStatus(f).map(plain))

  override def getFileStatus(f: Path): FileStatus =
    counted("status", f)(plain(super.getFileStatus(f)))

  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    counted("open", f)(super.open(f, bufferSize))

  override def listLocatedStatus(f: Path)
      : RemoteIterator[LocatedFileStatus] =
    counted("locatedList", f)(super.listLocatedStatus(f))

  /** Counted under the DESTINATION path: a publish is pinned by where a
    * file lands. */
  override def rename(src: Path, dst: Path): Boolean =
    counted("rename", dst)(!exists(dst) && super.rename(src, dst))

  private def plain(s: FileStatus): FileStatus =
    new FileStatus(s.getLen, s.isDirectory, s.getReplication,
      s.getBlockSize, s.getModificationTime, makeQualified(s.getPath))
}

object CountFs {
  val Scheme = "countfs"

  private val calls = new ConcurrentHashMap[(String, String), AtomicLong]()
  private val depth = ThreadLocal.withInitial[Int](() => 0)

  /** Count `op` on `f`, unless it runs inside another counted call: the
    * local disk stats every child of a listing and every file it opens,
    * which an object store's LIST and GET do not. */
  private def counted[T](op: String, f: Path)(body: => T): T = {
    if (depth.get == 0)
      calls.computeIfAbsent((op, f.toUri.getPath), _ => new AtomicLong())
        .incrementAndGet()
    depth.set(depth.get + 1)
    try body finally depth.set(depth.get - 1)
  }

  /** Calls of `op` ("create", "list", "locatedList", "status", "open" or
    * "rename", the last under its destination) since the last [[reset]],
    * per local path. */
  def count(op: String): Map[String, Long] = calls.asScala.collect {
    case ((o, p), n) if o == op => p -> n.get
  }.toMap

  /** The local paths passed to `create` since the last [[reset]]. */
  def createdPaths: Set[String] = count("create").keySet

  def reset(): Unit = calls.clear()

  /** Register the scheme on `conf` (the session's Hadoop conf). */
  def install(conf: Configuration): Unit = {
    conf.set(s"fs.$Scheme.impl", classOf[CountFs].getName)
    conf.setClassLoader(classOf[CountFs].getClassLoader)
  }
}
