package graft.table

import java.util.UUID

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame

/** Checkpointed incremental consumption of a graft table — the engine's
  * own table-as-a-source counterpart to [[graft.streaming.Streaming.graftSink]],
  * and the always-on version of the reference's checkpointed bronze→silver
  * incremental pulls (/root/reference/bronze-silver.py:121-149).
  *
  * Exactly-once protocol (write-ahead range): each pump round picks the
  * range `(committed, pending]`, persists `pending` in the checkpoint
  * BEFORE invoking the sink, and marks it committed only after the sink
  * returns. A crash inside the sink makes the next pump REPLAY exactly
  * the same range with the same batch id — so a sink that stamps its
  * commit with an idempotent txn (e.g. `GraftTable.append(txn = ...)`,
  * as [[TableFeed.mirror]] does) deduplicates the replay and the whole
  * pipeline is exactly-once, with no window in which a crash can either
  * lose or duplicate a range.
  *
  * The source range must be append-only (incremental scans refuse
  * rewrites, as Iceberg's do); the first round delivers the full current
  * table state as batch 0, so merges BEFORE feed creation are fine.
  */
object TableFeed {

  private case class Ckpt(committed: Long, pending: Long)

  private def fsOf(table: GraftTable, p: Path) =
    p.getFileSystem(table.sparkSession.sessionState.newHadoopConf())

  private def readCkpt(table: GraftTable, file: String): Option[Ckpt] = {
    val p = new Path(file)
    val fs = fsOf(table, p)
    if (!fs.exists(p)) return None
    val in = fs.open(p)
    try {
      val len = fs.getFileStatus(p).getLen.toInt
      val bytes = new Array[Byte](len)
      in.readFully(bytes)
      val s = new String(bytes, "UTF-8").trim.split(",")
      Some(Ckpt(s(0).toLong, s(1).toLong))
    } finally in.close()
  }

  private def writeCkpt(table: GraftTable, file: String, c: Ckpt): Unit = {
    val p = new Path(file)
    val fs = fsOf(table, p)
    Option(p.getParent).foreach(fs.mkdirs)
    val tmp = new Path(p.getParent, s".tmp-ckpt-${UUID.randomUUID()}")
    val out = fs.create(tmp, false)
    try out.write(s"${c.committed},${c.pending}".getBytes("UTF-8"))
    finally out.close()
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      p.toUri, table.sparkSession.sessionState.newHadoopConf())
    fc.rename(tmp, p, org.apache.hadoop.fs.Options.Rename.OVERWRITE)
  }

  /** One pump round: deliver the next unconsumed range to `sink` as
    * `(increment, batchId, isFullState)` where batchId = the range's end
    * snapshot id (monotonic — usable directly as an idempotent txn batch
    * id) and isFullState marks deliveries that are the WHOLE table state
    * (the first round, and rewrite recovery) rather than an increment —
    * such batches must REPLACE downstream state, not append to it.
    * Returns the delivered range `(fromExclusive, toInclusive)`, or None
    * when the source has nothing new. Call in a loop / on a schedule for
    * continuous feeding.
    *
    * @param onRewrite what to do when a non-append snapshot
    *   (merge/overwrite/compact/rollback) lands inside the pending range,
    *   where the increment is undefined (incremental scans refuse
    *   rewrites, as Iceberg's do). "fail" (default) rethrows — note the
    *   pending range is already persisted, so every later pump replays the
    *   same refusal until the source is repaired or the checkpoint reset;
    *   "fullState" recovers by re-delivering the full state as of the
    *   range end with isFullState=true — the feed self-heals and stays
    *   exactly-once for sinks that honor the replace contract. */
  def pump(table: GraftTable, checkpointFile: String,
      onRewrite: String = "fail")
      (sink: (DataFrame, Long, Boolean) => Unit): Option[(Long, Long)] = {
    require(Set("fail", "fullState").contains(onRewrite),
      s"onRewrite must be fail|fullState, got $onRewrite")
    val st = table.state()
    val tip = st.tipId.getOrElse(return None)
    val range = readCkpt(table, checkpointFile) match {
      case Some(c) if c.pending > c.committed =>
        Some(Ckpt(c.committed, c.pending)) // crashed mid-sink: REPLAY as-is
      case Some(c) =>
        if (tip > c.committed) Some(Ckpt(c.committed, tip)) else None
      case None => Some(Ckpt(-1L, tip)) // first round: full current state
    }
    range.map { r =>
      writeCkpt(table, checkpointFile, r) // WAL: pending recorded first
      val (df, full) =
        if (r.committed < 0) (table.read(st.at(Some(r.pending))), true)
        else try {
          (table.readIncremental(st, r.committed, r.pending,
            skipRewrites = false), false)
        } catch {
          case _: IllegalArgumentException if onRewrite == "fullState" =>
            (table.read(st.at(Some(r.pending))), true)
        }
      sink(df, r.pending, full)
      writeCkpt(table, checkpointFile, Ckpt(r.pending, r.pending))
      (r.committed, r.pending)
    }
  }

  /** Exactly-once table mirroring: pump `src` into `dst`, committing each
    * range with an idempotent txn stamp so crash replays are no-ops.
    * Full-state deliveries (first round, rewrite recovery) OVERWRITE the
    * mirror — so a merge/compact landing in the source re-syncs the mirror
    * instead of wedging the feed, still exactly-once (the overwrite
    * carries the same txn stamp). */
  def mirror(src: GraftTable, dst: GraftTable, checkpointFile: String,
      txnAppId: String, parts: Seq[String] = Seq.empty,
      onRewrite: String = "fullState"): Option[(Long, Long)] =
    pump(src, checkpointFile, onRewrite) { (df, batchId, full) =>
      // propagate source schema evolution into the mirror: incremental
      // appends merge new columns; a full-state overwrite pre-evolves
      // the mirror explicitly (overwrite aligns to the existing schema
      // and would silently drop an evolved column otherwise)
      if (full && dst.exists) {
        val extra = df.schema.fields
          .filterNot(f => dst.schema.fieldNames.contains(f.name))
        if (extra.nonEmpty) try {
          dst.addColumns(extra.map(_.copy(nullable = true)).toSeq)
        } catch { case e: IllegalArgumentException =>
          // the pending range is already checkpointed, so this failure
          // would replay forever — name the manual remedy
          throw new IllegalStateException(
            s"mirror ${dst.location} cannot adopt the source's evolved " +
              s"schema (${e.getMessage}); drop and re-create the mirror " +
              "(or reset its feed checkpoint) to resync", e)
        }
      }
      if (full) dst.overwrite(df, parts, txn = Some((txnAppId, batchId)))
      else dst.append(df, parts, mergeSchema = true,
        txn = Some((txnAppId, batchId)))
    }
}
