package graft.table

import java.util.concurrent.{Callable, LinkedBlockingQueue, ThreadPoolExecutor, TimeUnit}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.{LogicalTypeAnnotation, PrimitiveType}
import org.apache.spark.sql.graftglue.GraftSqlGlue
import org.apache.spark.sql.types._

/** Per-file column min/max + row counts read from PARQUET FOOTERS — the
  * metadata the writer already recorded, so stats collection after a
  * commit costs a footer read per file instead of a second full data scan
  * (the write path used to re-read everything it just wrote; at 100 TB
  * that doubles ingest IO for numbers parquet hands out for free).
  *
  * Values decode from the physical representation to Spark-internal form
  * and render with the same UTC Cast-to-string the snapshot log has
  * always used ([[FileStats]] parses them back with the matching Cast),
  * so stats are byte-identical in meaning to the scan-collected ones —
  * and, because rendering is driver-side UTC, timestamp bounds are now
  * recorded regardless of the session timezone. Anything unexpected
  * (INT96 timestamps, unknown annotations, NaN bounds, missing
  * statistics) conservatively drops that column's bounds — readers treat
  * "no stats" as "cannot prune". */
object FooterStats {

  /** The driver's one pool for footer reads: each is a small independent
    * IO, a commit can carry hundreds, and no Spark job runs in one.
    * Bounded at 16 threads across all callers. A thread inherits no
    * thread-locals (it holds no caller's session or Spark local
    * properties) and exits after a second idle, so the state its reads
    * leave behind is not kept between commits. */
  private val pool = {
    val p = new ThreadPoolExecutor(16, 16, 1, TimeUnit.SECONDS,
      new LinkedBlockingQueue[Runnable](), { r =>
        val t = new Thread(null, r, "graft-footer", 0, false)
        t.setDaemon(true); t })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** [[read]] for each of `files`, concurrently, in the order given. */
  def readAll(conf: Configuration, files: Seq[Path],
      fields: Seq[StructField]): Seq[(Map[String, ColStat], Long)] =
    if (files.size <= 1) files.map(read(conf, _, fields))
    else pool.invokeAll(files.map(f =>
      (() => read(conf, f, fields)): Callable[(Map[String, ColStat], Long)])
      .asJava).asScala.map(_.get()).toSeq

  /** (column → ColStat bounds, total row count) for one parquet file. */
  def read(conf: Configuration, file: Path,
      fields: Seq[StructField]): (Map[String, ColStat], Long) = {
    val reader = ParquetFileReader.open(HadoopInputFile.fromPath(file, conf))
    try {
      val blocks = reader.getFooter.getBlocks.asScala.toSeq
      val rowCount = blocks.map(_.getRowCount).sum
      val byName = fields.map(f => f.name -> f).toMap
      val mins = mutable.Map.empty[String, Any] // Spark-internal values
      val maxs = mutable.Map.empty[String, Any]
      val broken = mutable.Set.empty[String]
      // per-column null totals; a single row group without a recorded
      // null count makes the column's total unknowable (dropped) — an
      // under-count could wrongly prune IS NULL
      val nulls = mutable.Map.empty[String, Long]
      val nullsBroken = mutable.Set.empty[String]
      blocks.foreach { b =>
        b.getColumns.asScala.foreach { ccm =>
          val name = ccm.getPath.toDotString
          byName.get(name).foreach { f =>
            val s = ccm.getStatistics
            if (s == null || s.getNumNulls < 0) nullsBroken += name
            else nulls(name) = nulls.getOrElse(name, 0L) + s.getNumNulls
            if (!broken.contains(name)) {
              if (s == null) broken += name
              else if (s.hasNonNullValue) {
                (decode(f.dataType, ccm.getPrimitiveType, s.genericGetMin),
                  decode(f.dataType, ccm.getPrimitiveType, s.genericGetMax)) match {
                  case (Some(mn), Some(mx)) =>
                    val ord = GraftSqlGlue.interpretedOrdering(f.dataType)
                    if (!mins.contains(name) || ord.lt(mn, mins(name)))
                      mins(name) = mn
                    if (!maxs.contains(name) || ord.gt(mx, maxs(name)))
                      maxs(name) = mx
                  case _ => broken += name
                }
              } else if (s.getNumNulls < 0) {
                broken += name // statistics not recorded for this group
              } // else: all-null row group — no bounds contribution
            }
          }
        }
      }
      val stats = fields.flatMap { f =>
        def ok(s: String): Boolean = f.dataType != StringType ||
          s.length <= FileStats.MaxStringStatLength
        val mn = if (broken.contains(f.name)) None
          else mins.get(f.name)
            .map(GraftSqlGlue.castToStringUtc(_, f.dataType)).filter(ok)
        val mx = if (broken.contains(f.name)) None
          else maxs.get(f.name)
            .map(GraftSqlGlue.castToStringUtc(_, f.dataType)).filter(ok)
        val nc = if (nullsBroken.contains(f.name)) None
          else nulls.get(f.name)
        // an all-null column keeps a stat entry (no bounds, a null
        // count of rowCount) — exactly the IS-NOT-NULL-prunable case
        if (mn.isEmpty && mx.isEmpty && nc.isEmpty) None
        else Some(f.name -> ColStat(mn, mx, nulls = nc))
      }.toMap
      (stats, rowCount)
    } finally reader.close()
  }

  /** Physical footer value → Spark-INTERNAL value for `dt`; None when the
    * combination is unexpected (caller drops the column's bounds). */
  private def decode(dt: DataType, pt: PrimitiveType, v: Any): Option[Any] = {
    import PrimitiveType.PrimitiveTypeName._
    (dt, pt.getPrimitiveTypeName) match {
      case (IntegerType, INT32) => Some(v)
      case (ShortType, INT32) => Some(v.asInstanceOf[Int].toShort)
      case (ByteType, INT32) => Some(v.asInstanceOf[Int].toByte)
      case (LongType, INT64) => Some(v)
      case (FloatType, FLOAT) =>
        Some(v).filterNot(x => x.asInstanceOf[Float].isNaN)
      case (DoubleType, DOUBLE) =>
        Some(v).filterNot(x => x.asInstanceOf[Double].isNaN)
      case (BooleanType, BOOLEAN) => Some(v)
      case (StringType, BINARY) =>
        Some(org.apache.spark.unsafe.types.UTF8String
          .fromBytes(v.asInstanceOf[Binary].getBytes))
      case (DateType, INT32) => Some(v) // days since epoch
      case (TimestampType, INT64) =>
        pt.getLogicalTypeAnnotation match {
          case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
            import LogicalTypeAnnotation.TimeUnit._
            t.getUnit match {
              case MICROS => Some(v)
              case MILLIS => Some(v.asInstanceOf[Long] * 1000L)
              case NANOS => Some(Math.floorDiv(v.asInstanceOf[Long], 1000L))
            }
          case _ => None // INT96 or unannotated: bounds unusable
        }
      case (d: DecimalType, INT32) =>
        Some(org.apache.spark.sql.types.Decimal(
          java.math.BigDecimal.valueOf(v.asInstanceOf[Int].toLong, d.scale)))
      case (d: DecimalType, INT64) =>
        Some(org.apache.spark.sql.types.Decimal(
          java.math.BigDecimal.valueOf(v.asInstanceOf[Long], d.scale)))
      case (d: DecimalType, ptn)
          if ptn == FIXED_LEN_BYTE_ARRAY || ptn == BINARY =>
        Some(org.apache.spark.sql.types.Decimal(new java.math.BigDecimal(
          new java.math.BigInteger(v.asInstanceOf[Binary].getBytes), d.scale)))
      case _ => None
    }
  }
}
