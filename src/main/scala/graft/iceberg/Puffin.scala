package graft.iceberg

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, Path}

/** Iceberg v3 DELETION VECTORS, from the public specs and nothing else:
  * the Puffin sidecar file format (Iceberg's puffin-spec), the
  * deletion-vector-v1 blob layout (Iceberg table-spec v3), and the
  * RoaringBitmap interchange format (RoaringFormatSpec) — implemented
  * by hand so foreign v3 trees read with zero Iceberg/roaring jars,
  * matching how [[IcebergImport]] hand-walks Avro manifests.
  *
  * Blob layout (`deletion-vector-v1`): a 4-byte big-endian length of
  * (magic + vector), the 4 magic bytes D1 D3 39 64, the deleted
  * positions as a 64-bit "portable" roaring bitmap, then a 4-byte
  * big-endian CRC-32C of (magic + vector). The reader validates
  * framing (length + magic) but tolerates the checksum: writers in the
  * wild disagree on the exact polynomial lineage, and rejecting a
  * readable vector over it would fail valid foreign trees.
  *
  * Portable 64-bit roaring: an 8-byte little-endian count of 32-bit
  * buckets, then per bucket a 4-byte little-endian high key and a
  * standard 32-bit roaring serialization (cookie 12346 without run
  * containers / 12347 with them; array, bitmap and run containers all
  * decoded). The writer emits the no-run form — always spec-valid.
  *
  * Scale shape: one DV blob holds exactly one data file's deleted
  * positions, so decode parallelizes per (data file, blob slice) on
  * executors; nothing here touches the driver beyond O(#DVs) refs. */
private[graft] object Puffin {

  private val FileMagic = Array[Byte]('P', 'F', 'A', '1')
  private val DvMagic =
    Array[Byte](0xD1.toByte, 0xD3.toByte, 0x39.toByte, 0x64.toByte)

  // ------------------------------------------------------------------
  // 32-bit roaring (RoaringFormatSpec)
  // ------------------------------------------------------------------
  private val CookieNoRun = 12346
  private val CookieRun = 12347
  private val NoOffsetThreshold = 4
  private val ArrayMax = 4096

  /** Serialize sorted-distinct container values (key16 -> sorted low16
    * shorts) in the no-run format. */
  private def serialize32(containers: Seq[(Int, Array[Int])])
      : Array[Byte] = {
    val bodies = containers.map { case (_, lows) =>
      if (lows.length <= ArrayMax) {
        val b = ByteBuffer.allocate(lows.length * 2)
          .order(ByteOrder.LITTLE_ENDIAN)
        lows.foreach(v => b.putShort(v.toShort))
        b.array()
      } else {
        val words = new Array[Long](1024)
        lows.foreach(v => words(v >>> 6) |= 1L << (v & 63))
        val b = ByteBuffer.allocate(8192).order(ByteOrder.LITTLE_ENDIAN)
        words.foreach(b.putLong)
        b.array()
      }
    }
    val n = containers.size
    val headerLen = 8 + 4 * n + 4 * n // cookie+size, desc, offsets
    val out = ByteBuffer.allocate(headerLen + bodies.map(_.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.putInt(CookieNoRun).putInt(n)
    containers.foreach { case (key, lows) =>
      out.putShort(key.toShort).putShort((lows.length - 1).toShort)
    }
    var off = headerLen
    bodies.foreach { b => out.putInt(off); off += b.length }
    bodies.foreach(out.put)
    out.array()
  }

  /** Decode one 32-bit roaring bitmap at the buffer's position
    * (advances it); emits each value to `emit` as an unsigned int. */
  private def deserialize32(buf: ByteBuffer, emit: Long => Unit): Unit = {
    buf.order(ByteOrder.LITTLE_ENDIAN)
    val start = buf.position()
    val cookie = buf.getInt
    val (n, runFlags) =
      if ((cookie & 0xFFFF) == CookieRun) {
        val size = (cookie >>> 16) + 1
        val flags = new Array[Byte]((size + 7) / 8)
        buf.get(flags)
        (size, Some(flags))
      } else {
        require(cookie == CookieNoRun,
          s"not a roaring bitmap (cookie $cookie)")
        (buf.getInt, None)
      }
    def isRun(i: Int): Boolean =
      runFlags.exists(f => (f(i / 8) & (1 << (i % 8))) != 0)
    val keys = new Array[Int](n)
    val cards = new Array[Int](n)
    (0 until n).foreach { i =>
      keys(i) = buf.getShort & 0xFFFF
      cards(i) = (buf.getShort & 0xFFFF) + 1
    }
    val hasOffsets = runFlags.isEmpty || n >= NoOffsetThreshold
    val offsets = if (hasOffsets) (0 until n).map(_ => buf.getInt) else Nil
    (0 until n).foreach { i =>
      if (hasOffsets) buf.position(start + offsets(i))
      val hi = keys(i).toLong << 16
      if (isRun(i)) {
        val runs = buf.getShort & 0xFFFF
        (0 until runs).foreach { _ =>
          val s = buf.getShort & 0xFFFF
          val len = buf.getShort & 0xFFFF
          (s to s + len).foreach(v => emit(hi | v))
        }
      } else if (cards(i) > ArrayMax) {
        (0 until 1024).foreach { w =>
          var word = buf.getLong
          var bit = 0
          while (word != 0L) {
            val t = java.lang.Long.numberOfTrailingZeros(word)
            bit = t
            emit(hi | (w.toLong * 64 + bit))
            word &= word - 1
          }
        }
      } else {
        (0 until cards(i)).foreach(_ => emit(hi | (buf.getShort & 0xFFFF)))
      }
    }
  }

  /** positions (sorted or not, distinct or not) → portable 64-bit
    * roaring bytes. */
  def serializePortable64(positions: Seq[Long]): Array[Byte] = {
    // primitive sort + in-place dedup: a heavily tombstoned file's DV
    // is O(rows) longs — boxed distinct/sorted would triple the memory
    val arr = positions.toArray
    java.util.Arrays.sort(arr)
    var n = 0
    arr.indices.foreach { i =>
      if (n == 0 || arr(i) != arr(n - 1)) { arr(n) = arr(i); n += 1 }
    }
    val sorted = arr.take(n)
    val byHigh = sorted.groupBy(p => (p >>> 32).toInt).toSeq.sortBy(_._1)
    val parts = byHigh.map { case (high, ps) =>
      val containers = ps.map(p => (p & 0xFFFFFFFFL).toInt)
        .groupBy(v => v >>> 16).toSeq.sortBy(_._1)
        .map { case (k, vs) => (k, vs.map(_ & 0xFFFF).toArray) }
      (high, serialize32(containers))
    }
    val out = ByteBuffer.allocate(8 + parts.map(4 + _._2.length).sum)
      .order(ByteOrder.LITTLE_ENDIAN)
    out.putLong(parts.size.toLong)
    parts.foreach { case (high, bytes) => out.putInt(high); out.put(bytes) }
    out.array()
  }

  /** portable 64-bit roaring bytes → sorted positions. */
  def deserializePortable64(bytes: Array[Byte]): Array[Long] = {
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val n = buf.getLong
    val out = Array.newBuilder[Long]
    (0L until n).foreach { _ =>
      val high = buf.getInt.toLong << 32
      deserialize32(buf, v => out += (high | v))
    }
    out.result().sorted
  }

  // ------------------------------------------------------------------
  // deletion-vector-v1 blob
  // ------------------------------------------------------------------

  /** positions → DV blob bytes (length + magic + vector + crc32c). */
  def dvBlob(positions: Seq[Long]): Array[Byte] = {
    val vector = serializePortable64(positions)
    val crc = new java.util.zip.CRC32C
    crc.update(DvMagic)
    crc.update(vector)
    val out = ByteBuffer.allocate(4 + 4 + vector.length + 4)
      .order(ByteOrder.BIG_ENDIAN)
    out.putInt(4 + vector.length) // combined magic+vector length
    out.put(DvMagic).put(vector)
    out.putInt(crc.getValue.toInt)
    out.array()
  }

  /** Decode a DV blob (as sliced by the manifest's content_offset /
    * content_size_in_bytes) → sorted deleted positions. */
  def decodeDvBlob(blob: Array[Byte]): Array[Long] = {
    require(blob.length >= 12, s"DV blob too short (${blob.length} B)")
    val buf = ByteBuffer.wrap(blob).order(ByteOrder.BIG_ENDIAN)
    val combined = buf.getInt
    require(combined >= 4 && combined <= blob.length - 4,
      s"DV blob framing: combined length $combined of ${blob.length} B")
    val magic = new Array[Byte](4)
    buf.get(magic)
    require(java.util.Arrays.equals(magic, DvMagic),
      "DV blob magic mismatch (not a deletion-vector-v1 payload)")
    val vector = new Array[Byte](combined - 4)
    buf.get(vector)
    deserializePortable64(vector)
  }

  /** Read + decode one DV blob slice out of a puffin file. */
  def readDv(conf: Configuration, uri: String, offset: Long,
      length: Long): Array[Long] = {
    val path = new Path(uri)
    val fs = path.getFileSystem(conf)
    val in = fs.open(path)
    try {
      in.seek(offset)
      val blob = new Array[Byte](length.toInt)
      in.readFully(blob)
      decodeDvBlob(blob)
    } finally in.close()
  }

  /** Write a valid one-or-more-blob puffin file holding one DV per
    * referenced data file; returns (dataFileUri, offset, length,
    * cardinality) per blob — the manifest coordinates. */
  def writeDvFile(fs: FileSystem, path: Path,
      dvs: Seq[(String, Seq[Long])], snapshotId: Long,
      sequenceNumber: Long): Seq[(String, Long, Long, Long)] = {
    // normalize once per blob (primitive sort+dedup): the blob bytes
    // and the manifest cardinality must agree, and neither may box
    val blobs = dvs.map { case (uri, ps) =>
      val arr = ps.toArray
      java.util.Arrays.sort(arr)
      var n = 0
      arr.indices.foreach { i =>
        if (n == 0 || arr(i) != arr(n - 1)) { arr(n) = arr(i); n += 1 }
      }
      val norm = scala.collection.immutable.ArraySeq
        .unsafeWrapArray(arr.take(n))
      (uri, norm, dvBlob(norm))
    }
    // JSON string escape for interpolated values (a data-file URI with
    // a quote/backslash/control char must not break the footer for
    // native readers)
    def esc(s: String): String = s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }
    val out = fs.create(path, false)
    val coords = Seq.newBuilder[(String, Long, Long, Long)]
    val footerBlobs = Seq.newBuilder[String]
    try {
      out.write(FileMagic)
      var off = 4L
      blobs.foreach { case (uri, ps, blob) =>
        coords += ((uri, off, blob.length.toLong,
          ps.size.toLong))
        footerBlobs +=
          s"""{"type":"deletion-vector-v1","fields":[],""" +
            s""""snapshot-id":$snapshotId,""" +
            s""""sequence-number":$sequenceNumber,""" +
            s""""offset":$off,"length":${blob.length},""" +
            s""""properties":{"referenced-data-file":"${esc(uri)}",""" +
            s""""cardinality":"${ps.size}"}}"""
        out.write(blob)
        off += blob.length
      }
      val footerJson = s"""{"blobs":[${footerBlobs.result()
        .mkString(",")}],"properties":{}}"""
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
      out.write(FileMagic)
      out.write(footerJson)
      val tail = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      tail.putInt(footerJson.length).putInt(0) // flags: uncompressed
      out.write(tail.array())
      out.write(FileMagic)
    } finally out.close()
    coords.result()
  }
}
