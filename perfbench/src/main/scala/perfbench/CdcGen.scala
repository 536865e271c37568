package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, StandardCopyOption}

import scala.collection.mutable

/** One row of the reference's order schema (FIXTURES.md A1) without the
  * op code. Money is kept in cents and dates as epoch days so the model
  * compares exactly with what silver reads back. */
final case class Order(itemid: Long, category: String, priceCents: Long,
    quantity: Int, orderDay: Int, state: String, shipping: String,
    referral: String, tsMicros: Long)

/** One CDC event: op `I`/`U`/`D` on invoice `invoiceid`. `passes` is the
  * ingest quality filter (price > 0 and quantity > 0); an event that fails
  * it never reaches bronze, so it changes no table state. */
final case class Event(op: Char, invoiceid: Long, row: Order) {
  def passes: Boolean = row.priceCents > 0 && row.quantity > 0
}

/** Seeded CDC generator plus the model of the state silver must reach.
  *
  * Only the schema and the op codes come from the reference (FIXTURES.md
  * A1). The traffic mix is an assumption: no real CDC traffic is at hand
  * to derive it from. Inserts open new invoices with one item each;
  * updates and deletes land on live invoices, skewed toward a hot set and
  * toward recent inserts; a share of rows carries a non-positive price or
  * quantity, so the ingest filter does work; a share of keys changes twice
  * inside one file. Every number below (shares, skews, set sizes) was
  * picked to give each of those behaviours some work, not measured; see
  * perfbench/README.md. Derive them from real traffic once it is
  * available.
  *
  * `tiesInFile`: the consumer orders a key's changes by a value that ties
  * inside one file (the batch pipeline's `processed_time`), so any of a
  * key's filtered events in that file may win. The model then keeps every
  * tied outcome as an acceptable candidate until a later file changes the
  * key again. */
final class CdcGen(seed: Long, tiesInFile: Boolean) {
  private val rnd = new java.util.Random(seed)

  // invoiceid = BaseInvoice + index; the generator's view of each key
  private val rows = mutable.ArrayBuffer.empty[Order]
  private val live = mutable.ArrayBuffer.empty[Boolean]
  // live indices for uniform picks; pos(idx) = position in liveList or -1
  private val liveList = mutable.ArrayBuffer.empty[Int]
  private val pos = mutable.ArrayBuffer.empty[Int]
  // keys whose last file left several acceptable outcomes
  private val candidates = mutable.HashMap.empty[Int, Seq[Option[Order]]]
  private var clock = CdcGen.BaseMicros
  private var filesMade = 0

  /** Events landed so far that pass the ingest filter, per op. */
  val passedByOp: mutable.Map[Char, Long] =
    mutable.Map('I' -> 0L, 'U' -> 0L, 'D' -> 0L)
  var passedInvoiceSum = 0L

  private def newOrder(itemid: Long): Order = {
    clock += 1000L + rnd.nextInt(1000)
    val bad = rnd.nextDouble() < CdcGen.BadRowShare
    val price = if (bad && rnd.nextBoolean()) -rnd.nextInt(500).toLong
      else 100L + rnd.nextInt(49900)
    val qty = if (bad && price > 0) -rnd.nextInt(2) else 1 + rnd.nextInt(20)
    Order(itemid, pick(CdcGen.Categories), price, qty,
      CdcGen.BaseDay + rnd.nextInt(730), pickState(),
      pick(CdcGen.Shipping), pick(CdcGen.Referrals), clock)
  }

  private def pick(xs: IndexedSeq[String]): String = xs(rnd.nextInt(xs.size))
  // a few states carry most orders (assumed quadratic skew)
  private def pickState(): String = {
    val u = rnd.nextDouble()
    CdcGen.States((u * u * CdcGen.States.size).toInt)
  }

  /** A live key, skewed toward the hot set and recent inserts (assumed:
    * 30 % among the oldest 500 keys, 40 % among the newest 2000, 30 %
    * uniform). */
  private def pickLive(): Int = {
    val n = rows.size
    var tries = 0
    while (tries < 8) {
      val u = rnd.nextDouble()
      val idx =
        if (u < 0.3) (math.pow(rnd.nextDouble(), 3) * math.min(n, 500)).toInt
        else if (u < 0.7) n - 1 - rnd.nextInt(math.min(n, 2000))
        else rnd.nextInt(n)
      if (live(idx)) return idx
      tries += 1
    }
    liveList(rnd.nextInt(liveList.size))
  }

  private def setLive(idx: Int, on: Boolean): Unit =
    if (on && !live(idx)) {
      live(idx) = true; pos(idx) = liveList.size; liveList += idx
    } else if (!on && live(idx)) {
      live(idx) = false
      val p = pos(idx); val last = liveList.last
      liveList(p) = last; pos(last) = p; liveList.remove(liveList.size - 1)
      pos(idx) = -1
    }

  /** `n` events in file order. `insertShare` is the share of inserts;
    * the rest splits 4:1 between updates and deletes. */
  def batch(n: Int, insertShare: Double): Seq[Event] = {
    val out = mutable.ArrayBuffer.empty[Event]
    val before = mutable.HashMap.empty[Int, Option[Order]]
    // the generator's own view moves with every passing event, so the
    // second change of a key in one file sees the first
    def emit(e: Event): Unit = {
      out += e
      if (e.passes) {
        val idx = (e.invoiceid - CdcGen.BaseInvoice).toInt
        before.getOrElseUpdate(idx,
          if (idx < live.size && live(idx)) Some(rows(idx)) else None)
        e.op match {
          case 'D' => setLive(idx, on = false)
          case _ => rows(idx) = e.row; setLive(idx, on = true)
        }
      }
    }
    while (out.size < n) {
      val u = rnd.nextDouble()
      val e =
        if (liveList.isEmpty || u < insertShare) {
          val idx = rows.size
          val o = newOrder(10000L + rnd.nextInt(90000))
          rows += o; live += false; pos += -1
          Event('I', CdcGen.BaseInvoice + idx, o)
        } else {
          val idx = pickLive()
          val op = if (rnd.nextDouble() < 0.8) 'U' else 'D'
          Event(op, CdcGen.BaseInvoice + idx, newOrder(rows(idx).itemid))
        }
      emit(e)
      // a second change of the same key in the same file
      if (e.op != 'D' && e.passes && out.size < n &&
          rnd.nextDouble() < CdcGen.RepeatShare) {
        val op = if (rnd.nextDouble() < 0.7) 'U' else 'D'
        emit(Event(op, e.invoiceid, newOrder(e.row.itemid)))
      }
    }
    record(out.toSeq)
    var ins = 0L; var del = 0L
    before.foreach { case (idx, was) =>
      val now = if (live(idx)) Some(rows(idx)) else None
      if (was != now) {
        if (now.isDefined) ins += 1
        if (was.isDefined) del += 1
      }
    }
    lastChanges = (ins, del)
    out.toSeq
  }

  /** Rows the last [[batch]] inserted into and deleted from silver, as a
    * per-commit changelog reports them (an update is one of each). Exact
    * only without ties. */
  var lastChanges: (Long, Long) = (0L, 0L)

  /** Fold one file's events into the candidate model. */
  private def record(events: Seq[Event]): Unit = {
    val passing = events.filter(_.passes)
    passing.foreach { e =>
      passedByOp(e.op) += 1
      passedInvoiceSum += e.invoiceid
    }
    passing.groupBy(_.invoiceid).foreach { case (id, es) =>
      val idx = (id - CdcGen.BaseInvoice).toInt
      def outcome(e: Event) = if (e.op == 'D') None else Some(e.row)
      if (tiesInFile && es.size > 1)
        candidates(idx) = es.map(outcome).distinct
      else candidates.remove(idx)
    }
  }

  /** The model's acceptable outcomes for every key ever inserted:
    * invoiceid → candidates (None = absent). */
  def expected: Iterator[(Long, Seq[Option[Order]])] =
    rows.indices.iterator.map { idx =>
      (CdcGen.BaseInvoice + idx, candidates.getOrElse(idx,
        Seq(if (live(idx)) Some(rows(idx)) else None)))
    }

  /** Exact state (no ties open): invoiceid → row. */
  def liveRows: Map[Long, Order] = {
    require(candidates.isEmpty || !tiesInFile || candidates.values.forall(
      _.size == 1), "exact state asked while tied outcomes are open")
    liveList.iterator.map(i => (CdcGen.BaseInvoice + i, rows(i))).toMap
  }

  /** Lowest and highest silver row count the model accepts. */
  def countRange: (Long, Long) = {
    var lo = liveList.size.toLong; var hi = lo
    candidates.foreach { case (idx, cs) =>
      // liveList reflects the generator's own (last-event) outcome
      val mine = if (live(idx)) 1 else 0
      lo += (if (cs.contains(None)) 0 else 1) - mine
      hi += (if (cs.exists(_.isDefined)) 1 else 0) - mine
    }
    (lo, hi)
  }

  /** Write `events` as a TSV file that appears in `dir` atomically: it is
    * written under a hidden name and renamed into place, so no reader
    * sees a partial file. Returns (path, bytes). */
  def land(dir: Path, events: Seq[Event]): (Path, Long) = {
    filesMade += 1
    val name = f"cdc-$filesMade%06d.tsv"
    val sb = new StringBuilder(64 * (events.size + 1))
    sb.append(CdcGen.Header).append('\n')
    events.foreach { e => CdcGen.render(sb, e); sb.append('\n') }
    val bytes = sb.toString.getBytes(StandardCharsets.UTF_8)
    val tmp = dir.resolve(s".$name.inprogress")
    Files.write(tmp, bytes)
    val dst = dir.resolve(name)
    Files.move(tmp, dst, StandardCopyOption.ATOMIC_MOVE)
    (dst, bytes.length.toLong)
  }
}

object CdcGen {
  val BaseInvoice = 1000000L
  val BaseDay: Int = java.time.LocalDate.of(2023, 1, 1).toEpochDay.toInt
  val BaseMicros: Long = java.time.Instant.parse("2024-01-01T00:00:00Z")
    .toEpochMilli * 1000L
  // assumed shares, not measured: rows the ingest filter drops, and
  // changed keys that change again in the same file
  val BadRowShare = 0.03
  val RepeatShare = 0.05

  val Categories: IndexedSeq[String] = IndexedSeq("market", "language",
    "garden", "toys", "books", "music", "sports", "health", "beauty",
    "grocery", "office", "automotive")
  val States: IndexedSeq[String] = IndexedSeq("CA", "TX", "NY", "FL", "IL",
    "PA", "OH", "GA", "NC", "MI", "NJ", "VA", "WA", "AZ", "MA", "TN",
    "IN", "MO", "MD", "WI")
  val Shipping: IndexedSeq[String] = IndexedSeq("2-Day", "3-Day", "Standard")
  val Referrals: IndexedSeq[String] = IndexedSeq("Bing", "Google", "Yahoo",
    "Facebook", "Twitter", "Other")

  val Header: String = Seq("Op", "replicadmstimestamp", "invoiceid",
    "itemid", "category", "price", "quantity", "orderdate",
    "destinationstate", "shippingtype", "referral").mkString("\t")

  private val TsFmt = java.time.format.DateTimeFormatter
    .ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS").withZone(java.time.ZoneOffset.UTC)

  def render(sb: StringBuilder, e: Event): Unit = {
    val r = e.row
    val ts = java.time.Instant.ofEpochSecond(
      Math.floorDiv(r.tsMicros, 1000000L),
      Math.floorMod(r.tsMicros, 1000000L) * 1000L)
    val cents = math.abs(r.priceCents)
    sb.append(e.op).append('\t').append(TsFmt.format(ts)).append('\t')
      .append(e.invoiceid).append('\t').append(r.itemid).append('\t')
      .append(r.category).append('\t')
      .append(if (r.priceCents < 0) "-" else "").append(cents / 100)
      .append('.').append(f"${cents % 100}%02d").append('\t')
      .append(r.quantity).append('\t')
      .append(java.time.LocalDate.ofEpochDay(r.orderDay)).append('\t')
      .append(r.state).append('\t').append(r.shipping).append('\t')
      .append(r.referral)
  }
}
