package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.iceberg.{IcebergExport, IcebergImport}
import graft.pipeline.{BronzeToSilver, IncrementalRollup, RawToBronze}
import graft.streaming.Streaming
import graft.table.GraftTable

/** A workload: set-up (timed as `setup_s`), one closed-loop step per
  * call while the run lasts, then the end-of-run correctness checks. This
  * base holds what both share: the table locations, the generator and
  * the checks. */
abstract class Workload(ctx: Ctx, tiesInFile: Boolean) {
  def setup(): Unit
  def step(i: Int, traced: Boolean): Unit

  protected val spark = ctx.spark
  protected val root: String = ctx.opts.dir
  protected val rawDir: Path = Files.createDirectories(Paths.get(root, "raw"))
  protected val bronzeLoc = s"$root/bronze"
  protected val silverLoc = s"$root/silver"
  protected val goldLoc = s"$root/gold"
  protected val gen = new CdcGen(ctx.opts.seed, tiesInFile)
  def silver: GraftTable = GraftTable(spark, silverLoc)
  def gold: GraftTable = GraftTable(spark, goldLoc)
  /** Directories whose on-disk bytes count as stored. */
  def tableDirs: Seq[String] = Seq(bronzeLoc, silverLoc, goldLoc)

  protected def land(events: Seq[Event]): Long = gen.land(rawDir, events)._2

  private def folds: Int = silver.snapshots.count(_.operation == "fold")

  /** Runs one batch; in traced runs also notes silver's live tombstone
    * files before it and whether it folded them. */
  protected def tracked(run: => BatchRec): Unit =
    if (!ctx.opts.trace) run
    else {
      val before = silver.liveDeletes().size
      val f0 = folds
      val b = run
      b.liveDeletesBefore = before
      b.folded = folds > f0
    }

  def finish(): Unit = {
    val rows = Checks.silverMatchesModel(ctx, silver.read(), gen)
    Checks.goldMatchesSilver(ctx, rows, gold.read())
    Checks.bronzeMatchesLanded(ctx, GraftTable(spark, bronzeLoc).read(), gen)
  }
}

/** `cdc_batch`: the reference's scheduled reruns, RawToBronze →
  * BronzeToSilver (COW, deletes interpreted) → IncrementalRollup. */
final class CdcBatch(ctx: Ctx) extends Workload(ctx, tiesInFile = true) {
  private val toBronze = new RawToBronze(spark, rawDir.toString, bronzeLoc,
    s"$root/ckpt/bronze.json")
  private val toSilver = new BronzeToSilver(spark, bronzeLoc, silverLoc,
    s"$root/ckpt/silver.json", interpretDeletes = true)

  private def pipeline(unit: String): Unit = {
    ctx.spans("bronze", unit)(toBronze.run())
    val n = ctx.spans("silver", unit)(toSilver.run())
    val (lo, hi) = gen.countRange
    ctx.check(s"$unit silver count", n >= lo && n <= hi,
      s"BronzeToSilver reported $n rows, model allows [$lo, $hi]")
    ctx.spans("gold", unit)(IncrementalRollup.maintain(silver, gold,
      Seq("destinationstate"), Seq("quantity"), "gold"))
  }

  def setup(): Unit = {
    ctx.setupPart("initial_load") {
      ctx.inputBytesTotal += land(gen.batch(Sizes.InitRows, 1.0))
      pipeline("setup")
    }
  }

  /** Count silver's distinct invoices through SQL, as a consumer would
    * after each batch, and check it against the model (one item per
    * invoice, so it equals the row count). A distinct count always scans:
    * a plain `COUNT(*)` on a COW silver is answered from manifest row
    * counts in a few tens of milliseconds, too little to time steadily
    * from a handful of reads. */
  private def consumerRead(i: Int, traced: Boolean): Unit = {
    val rows = ctx.read(i, "invoices_sql", traced, cold = false) {
      silver.read().createOrReplaceTempView("silver_v")
      spark.sql("SELECT COUNT(DISTINCT invoiceid) FROM silver_v")
    }
    val (lo, hi) = gen.countRange
    val n = rows(0).getLong(0)
    ctx.check(s"read r$i invoices_sql", n >= lo && n <= hi,
      s"silver has $n invoices, model allows [$lo, $hi]")
  }

  def step(i: Int, traced: Boolean): Unit = {
    val events = gen.batch(Sizes.BatchRows, Sizes.InsertShare)
    tracked(ctx.batch(i, traced, events.size)(land(events))(pipeline))
    consumerRead(i, traced)
  }
}

/** `silver_read`: the consumer side, over a silver the always-on form
  * builds. Set-up streams small TSV files through
  * `Streaming.tsvIngestStream` + `graftMedallionSink` into a MOR silver
  * pre-created with the reference's partitioning (an initial load, then
  * history micro-batches, timed as the run's batches), stops the stream
  * with tombstones still live, and exports the silver once as Iceberg.
  * The timed loop then only reads, cold, through a fixed mix of ops. */
final class SilverRead(ctx: Ctx) extends Workload(ctx, tiesInFile = false) {
  private val rnd = new java.util.Random(ctx.opts.seed ^ 0x5eed)
  private val done = new LinkedBlockingQueue[java.lang.Double]()
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  // model snapshots of the history
  private var midSnap = 0L
  private var midState: (Long, Long) = (0L, 0L)
  private var incFrom = 0L
  private var incTo = 0L
  private var incChanges: (Long, Long) = (0L, 0L)
  private var current: Map[Long, Order] = Map.empty
  private var liveIds: IndexedSeq[Long] = IndexedSeq.empty

  /** Waits until the micro-batch that took the landed file has committed
    * gold. */
  private def awaitGold(unit: String): Unit = {
    var t = done.poll(1, TimeUnit.SECONDS)
    var waited = 1
    while (t == null) {
      query.exception.foreach(e => throw e)
      if (waited >= Sizes.StreamTimeoutS) throw new IllegalStateException(
        s"$unit: no micro-batch committed gold within ${waited}s")
      t = done.poll(1, TimeUnit.SECONDS)
      waited += 1
    }
  }

  def setup(): Unit = {
    val schema = new BronzeToSilver(spark, bronzeLoc, silverLoc,
      s"$root/ckpt/unused.json").silverSchema
    silver.create(schema, parts = Seq("destinationstate"))
    val stream = Streaming.tsvIngestStream(spark, rawDir.toString,
      SilverRead.RawSchema)
    query = Streaming.graftMedallionSink(stream, bronzeLoc, silverLoc,
      goldLoc, "cdc", keys = Seq("invoiceid", "itemid"),
      dedupKey = Seq("invoiceid"), orderCol = "replicadmstimestamp",
      rollupKeys = Seq("destinationstate"), sumCols = Seq("quantity"),
      opCol = Some("Op"),
      afterBatch = (_, _, _) => done.put(Clock.nowMs))
      .option("checkpointLocation", s"$root/ckpt/stream")
      .start()
    ctx.setupPart("initial_load") {
      ctx.inputBytesTotal += land(gen.batch(Sizes.InitRows, 1.0))
      awaitGold("setup")
    }
    val hist0 = Clock.nowMs
    val h = ctx.opts.history
    val written0 = ctx.writtenBytesNow()
    var i = 0
    // history: one micro-batch (one silver merge) per file; auto-fold
    // keeps at most ten tombstone files live, and the build stops with
    // some still live
    while (i < h || silver.liveDeletes().isEmpty) {
      val events = gen.batch(Sizes.StreamRows, Sizes.InsertShare)
      // every history batch is timed; a traced run traces every other one
      val traced = ctx.opts.trace && i % 2 == 1
      ctx.traceUnit(traced)
      try tracked(ctx.batch(i, traced, events.size)(land(events))(awaitGold))
      finally ctx.traceUnit(false)
      ctx.ratioInputBytes += ctx.batches.last.bytes
      // the changelog op reads the middle merge and the one after it
      if (i == h / 2 - 1) incFrom = silver.latestSnapshotId.get
      if (i == h / 2 || i == h / 2 + 1) {
        val (ins, del) = gen.lastChanges
        incChanges = (incChanges._1 + ins, incChanges._2 + del)
      }
      if (i == h / 2 + 1) incTo = silver.latestSnapshotId.get
      if (i == h / 2) {
        midSnap = silver.latestSnapshotId.get
        val rows = gen.liveRows.values
        midState = (rows.size.toLong, rows.map(_.quantity.toLong).sum)
      }
      i += 1
    }
    // the loop only reads
    query.stop()
    ctx.ratioWrittenBytes = ctx.writtenBytesNow() - written0
    ctx.setupParts += (("history", (Clock.nowMs - hist0) / 1000))
    ctx.setupPart("iceberg_export")(IcebergExport.export(spark, silver))
    current = gen.liveRows
    liveIds = current.keys.toIndexedSeq.sorted
  }

  /** The `i`-th op of the fixed mix. */
  def step(i: Int, traced: Boolean): Unit = SilverRead.Ops(i % SilverRead.Ops.size) match {
    case "count_sql" =>
      val rows = ctx.read(i, "count_sql", traced, cold = true) {
        silver.read().createOrReplaceTempView("silver_v")
        spark.sql("SELECT COUNT(*) FROM silver_v")
      }
      ctx.check(s"r$i count_sql", rows(0).getLong(0) == current.size,
        s"${rows(0).getLong(0)} rows, model ${current.size}")
    case "partition_agg" =>
      val st = CdcGen.States(rnd.nextInt(4))
      val rows = ctx.read(i, "partition_agg", traced, cold = true) {
        silver.read().createOrReplaceTempView("silver_v")
        spark.sql("SELECT shippingtype, COUNT(*) AS n, SUM(quantity) AS q " +
          s"FROM silver_v WHERE destinationstate = '$st' GROUP BY shippingtype")
      }
      val got = rows.map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
      val want = current.values.filter(_.state == st).groupBy(_.shipping)
        .map { case (k, os) => (k, (os.size.toLong, os.map(_.quantity.toLong).sum)) }
      ctx.check(s"r$i partition_agg $st", got == want, s"got $got, model $want")
    case "point_lookup" =>
      // one lookup in eight asks for an invoice that was never inserted
      val id = if (rnd.nextInt(8) == 0) CdcGen.BaseInvoice - 1 - rnd.nextInt(1000)
        else liveIds(rnd.nextInt(liveIds.size))
      val rows = ctx.read(i, "point_lookup", traced, cold = true) {
        silver.read().createOrReplaceTempView("silver_v")
        spark.sql(s"SELECT ${Checks.Canonical} FROM silver_v WHERE invoiceid = $id")
      }
      val want = current.get(id).map(o => Checks.canonical(id, o)).toSeq
      val got = rows.toSeq.map(Checks.canonical)
      ctx.check(s"r$i point_lookup $id", got == want, s"got $got, model $want")
    case "time_travel" =>
      val rows = ctx.read(i, "time_travel", traced, cold = true) {
        silver.readAsOf(midSnap).agg(count(lit(1)), sum(col("quantity")))
      }
      val got = (rows(0).getLong(0), rows(0).getLong(1))
      ctx.check(s"r$i time_travel $midSnap", got == midState,
        s"got $got, model $midState")
    case "incremental" =>
      val rows = ctx.read(i, "incremental", traced, cold = true) {
        silver.changes(incFrom, incTo).groupBy("_change_type").count()
      }
      val m = rows.map(r => (r.getString(0), r.getLong(1))).toMap
      val got = (m.getOrElse("insert", 0L), m.getOrElse("delete", 0L))
      ctx.check(s"r$i incremental ($incFrom, $incTo]", got == incChanges,
        s"got (insert, delete) = $got, model $incChanges")
    case "external_iceberg" =>
      val rows = ctx.read(i, "external_iceberg", traced, cold = true) {
        IcebergImport.read(spark, silverLoc).groupBy().count()
      }
      ctx.check(s"r$i external_iceberg", rows(0).getLong(0) == current.size,
        s"${rows(0).getLong(0)} rows, model ${current.size}")
  }

}

object SilverRead {
  val Ops: IndexedSeq[String] = IndexedSeq("count_sql", "partition_agg",
    "point_lookup", "time_travel", "incremental", "external_iceberg")

  /** The raw TSV schema, declared as an always-on ingest declares it. */
  val RawSchema: StructType = StructType(Seq(
    StructField("Op", StringType), StructField("replicadmstimestamp", TimestampType),
    StructField("invoiceid", LongType), StructField("itemid", LongType),
    StructField("category", StringType), StructField("price", DoubleType),
    StructField("quantity", IntegerType), StructField("orderdate", DateType),
    StructField("destinationstate", StringType),
    StructField("shippingtype", StringType), StructField("referral", StringType)))
}

/** Input sizes, fixed for every seed. They are assumptions sized so that
  * the runs a full benchmark makes fit its time limit on a 4-core host,
  * not taken from real traffic. Set-up is one small initial load, which
  * is also the driver's only warm-up pass, so the first of the three
  * timed batches still runs partly JIT-cold (the median, the middle one,
  * leaves it out when it is the slowest);
  * batch files are larger than stream files, as the scheduled form's
  * are; the read history is as deep as the rest of the limit leaves room
  * for. */
object Sizes {
  val InitRows = 500
  val BatchRows = 1000
  val StreamRows = 500
  val InsertShare = 0.5
  val HistoryBatches = 3
  val StreamTimeoutS = 120
}

/** End-of-run checks of every table against the model. */
object Checks {
  /** Silver's columns in the model's units. */
  val CanonicalCols: Seq[String] = Seq("invoiceid", "itemid", "category",
    "CAST(ROUND(price * 100) AS BIGINT) AS cents", "quantity",
    "unix_date(orderdate) AS day", "destinationstate", "shippingtype",
    "referral", "unix_micros(replicadmstimestamp) AS ts")
  val Canonical: String = CanonicalCols.mkString(", ")

  def canonical(r: Row): Seq[Any] = (0 until r.length).map(r.get)
    .map {
      case i: Int => i.toLong
      case x => x
    }

  def canonical(id: Long, o: Order): Seq[Any] = Seq(id, o.itemid,
    o.category, o.priceCents, o.quantity.toLong, o.orderDay.toLong, o.state,
    o.shipping, o.referral, o.tsMicros)

  /** Returns silver's rows in canonical form, for the gold check. */
  def silverMatchesModel(ctx: Ctx, silver: DataFrame, gen: CdcGen): Seq[Seq[Any]] = {
    val got = silver.selectExpr(CanonicalCols: _*)
      .collect().map(canonical)
    val byId = got.groupBy(_.head.asInstanceOf[Long])
    var bad = 0L; var ambiguous = 0L; var example = ""
    gen.expected.foreach { case (id, cands) =>
      if (cands.size > 1) ambiguous += 1
      val rows = byId.getOrElse(id, Array.empty[Seq[Any]])
      val ok = rows.length match {
        case 0 => cands.contains(None)
        case 1 => cands.flatten.exists(o => canonical(id, o) == rows(0))
        case _ => false
      }
      if (!ok) {
        bad += 1
        if (example.isEmpty) example =
          s"invoice $id: silver ${rows.toSeq}, model ${cands.map(_.map(canonical(id, _)))}"
      }
    }
    val known = gen.expected.map(_._1).toSet
    val strays = byId.keys.count(k => !known.contains(k))
    println(s"[perfbench] silver check: ${got.length} rows, $bad wrong keys, " +
      s"$strays unknown keys, $ambiguous keys with tied outcomes accepted")
    ctx.check("silver = model", bad == 0 && strays == 0,
      s"$bad wrong keys, $strays unknown keys; first: $example")
    got.toSeq
  }

  /** Gold against a `GROUP BY destinationstate` recompute over silver's
    * canonical rows (quantity and state are columns 4 and 6). */
  def goldMatchesSilver(ctx: Ctx, silver: Seq[Seq[Any]], gold: DataFrame): Unit = {
    val want = silver.groupBy(_(6).asInstanceOf[String]).map { case (st, rs) =>
      (st, (rs.map(_(4).asInstanceOf[Long]).sum, rs.size.toLong)) }
    val got = gold.select("destinationstate", "quantity_sum", "n")
      .where(col("n") > 0)
      .collect().map(r => (r.getString(0), (r.getLong(1), r.getLong(2)))).toMap
    ctx.check("gold = silver recompute", got == want, s"gold $got, silver $want")
  }

  def bronzeMatchesLanded(ctx: Ctx, bronze: DataFrame, gen: CdcGen): Unit = {
    val got = bronze.groupBy("Op")
      .agg(count(lit(1)), sum(col("invoiceid").cast("long")))
      .collect().map(r => (r.getString(0).head, (r.getLong(1), r.getLong(2)))).toMap
    val n = gen.passedByOp.values.sum
    val rows = got.values.map(_._1).sum
    val ids = got.values.map(_._2).sum
    val perOp = gen.passedByOp.filter(_._2 > 0).toMap
    ctx.check("bronze = landed rows passing the filter",
      rows == n && ids == gen.passedInvoiceSum &&
        got.map { case (k, v) => (k, v._1) } == perOp,
      s"bronze ${got.map { case (k, v) => (k, v._1) }}, landed $perOp")
  }
}
