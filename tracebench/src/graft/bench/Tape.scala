package graft.bench

import java.nio.ByteBuffer
import java.security.MessageDigest
import java.time.{LocalDate, LocalDateTime}

import org.apache.spark.sql.SparkSession

/** One row of the `events` table. `graft.queries.Trades` maps it onto a
  * trade report: user_id is the bond, event_id the order key `ord` (and,
  * through `% 97` and `% 3`, the quantity and the contra party), value the
  * price, and event_type the side and status (purchase = sell, view/click =
  * buy, error = X cancel, signup = R reversal on the sell side). */
final case class Event(event_id: Long, ts: LocalDateTime, user_id: Long,
    event_type: String, value: Double, props: String)

/** Size of a tape: `rate` is the mean number of trades per bond-day. */
final case class TapeSpec(bonds: Int, days: Int, rate: Double)

/** What the generator wrote: row counts per injected error kind, the
  * bond-days that carry at least one trade, the rows' logical size (8
  * bytes per number, one per character), and a digest of every row in
  * (bond, generation) order. */
final case class TapeInfo(counts: Map[String, Long], bondDays: Long,
    logicalBytes: Long, digest: String) {
  def rows: Long = counts("rows")
  def trades: Long = counts("trades")
  def tradesPerBondDay(spec: TapeSpec): Double =
    trades.toDouble / (spec.bonds.toLong * spec.days)
}

/** Seeded trade-tape generator. Each bond draws from its own
  * `SplittableRandom(seed, bond)`, so a tape is the same whatever the
  * partitioning, and two seeds give two different tapes.
  *
  * Every error kind the Stage-0 chain removes is injected, so each filter
  * does real work:
  *  - X rows that copy an earlier trade's (day, price, qty) (J3 cancel);
  *  - R rows on the sell side (J7 reversal);
  *  - (B,D) copies of (S,D) trades with equal (day, price, qty) (J9 agency);
  *  - prints shifted by x10 or x0.1 (decimal-shift correction);
  *  - one-trade or two-trade price spikes (bounce-back).
  *
  * Event ids leave room for the copies: base trade j of a bond gets
  * `bond << 32 | j * Stride + o` with o < 291, and its copies sit at
  * o + 291, o + 582 and o + 873. All offsets are multiples of 291 = 3 * 97,
  * so a copy keeps the trade's qty (`event_id % 97`) and contra
  * (`event_id % 3`), and it sorts right after the trade it copies.
  */
object Tape {
  val Start: LocalDate = LocalDate.of(2024, 1, 1)
  private val Stride = 4L * 291
  private val Open = 9 * 3600 + 1800
  private val Close = 16 * 3600

  val Kinds: Seq[String] = Seq("rows", "trades", "x_cancel", "r_reversal",
    "agency_pair", "decimal_shift", "price_spike")

  private def round2(p: Double): Double = math.round(p * 100.0) / 100.0

  private def poisson(r: java.util.SplittableRandom, mean: Double): Int = {
    val l = math.exp(-mean)
    var k = 0
    var p = r.nextDouble()
    while (p > l) { k += 1; p *= r.nextDouble() }
    k
  }

  /** One bond's events in generation order, its kind counts (in [[Kinds]]
    * order), its number of bond-days with trades, and a SHA-256 of its rows. */
  final case class Bond(events: Array[Event], counts: Array[Long],
      bondDays: Long, digest: Array[Byte]) {
    def logicalBytes: Long = events.map(32L + _.event_type.length).sum
  }

  def bond(seed: Long, spec: TapeSpec, b: Long): Bond = {
    val r = new java.util.SplittableRandom(
      seed * 0x9E3779B97F4A7C15L ^ (b * 0xC2B2AE3D27D4EB4FL + 1))
    val out = Array.newBuilder[Event]
    val counts = new Array[Long](Kinds.length)
    def emit(e: Event, kind: Int): Unit = {
      out += e; counts(0) += 1; if (kind > 0) counts(kind) += 1
    }
    val base = b << 32
    var price = 60.0 + 80.0 * r.nextDouble()
    var j = 0L
    var bondDays = 0L
    var spikeLeft = 0
    var spikeSize = 0.0
    for (d <- 0 until spec.days) {
      price = math.min(250.0, math.max(20.0, price + 0.6 * r.nextGaussian()))
      val n = poisson(r, spec.rate)
      if (n > 0) bondDays += 1
      val secs = Array.fill(n)(Open + r.nextInt(Close - Open - 120)).sorted
      val day = Start.plusDays(d.toLong)
      spikeLeft = 0
      for (i <- 0 until n) {
        val sell = r.nextDouble() < 0.45
        val agency = sell && r.nextDouble() < 0.06
        var o = r.nextInt(291)
        val id0 = base + j * Stride
        // an agency pair needs a dealer (contra D) sell: event_id % 3 == 0
        if (agency) {
          val k = ((id0 + o) % 3).toInt
          o = if (o >= k) o - k else o + 3 - k
        }
        val id = id0 + o
        val clean = round2(price + 0.25 * r.nextGaussian())
        val px =
          if (spikeLeft > 0) { spikeLeft -= 1; counts(6) += 1; round2(clean + spikeSize) }
          else if (r.nextDouble() < 0.004) {
            spikeLeft = if (r.nextDouble() < 0.3) 1 else 0
            spikeSize = 40.0 + 20.0 * r.nextDouble()
            counts(6) += 1
            round2(clean + spikeSize)
          } else if (r.nextDouble() < 0.01) {
            counts(5) += 1
            if (r.nextBoolean()) round2(clean * 10.0) else round2(clean * 0.1)
          } else clean
        val ts = day.atStartOfDay().plusSeconds(secs(i).toLong)
        val kind = if (sell) "purchase" else if (r.nextBoolean()) "view" else "click"
        emit(Event(id, ts, b, kind, px, null), 0)
        counts(1) += 1
        if (agency)
          emit(Event(id + 291, ts.plusSeconds(1 + r.nextInt(30)), b, "view",
            px, null), 4)
        if (r.nextDouble() < 0.03)
          emit(Event(id + 582, ts.plusSeconds(1 + r.nextInt(60)), b, "error",
            px, null), 2)
        if (sell && r.nextDouble() < 0.03)
          emit(Event(id + 873, ts.plusSeconds(1 + r.nextInt(60)), b, "signup",
            px, null), 3)
        j += 1
      }
    }
    val events = out.result()
    val md = MessageDigest.getInstance("SHA-256")
    val buf = ByteBuffer.allocate(40)
    events.foreach { e =>
      buf.clear()
      buf.putLong(e.event_id).putLong(e.user_id)
        .putLong(e.ts.toLocalDate.toEpochDay).putLong(e.ts.toLocalTime.toSecondOfDay)
        .putLong(java.lang.Double.doubleToLongBits(e.value))
      md.update(buf.array())
      md.update(e.event_type.getBytes("UTF-8"))
    }
    Bond(events, counts, bondDays, md.digest())
  }

  private type Part = (Long, Array[Byte], Array[Long], Long, Long)

  private def part(b: Long, t: Bond): Part =
    (b, t.digest, t.counts, t.bondDays, t.logicalBytes)

  private def fold(parts: Seq[Part]): TapeInfo = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.sortBy(_._1).foreach(p => md.update(p._2))
    val sums = parts.map(_._3).transpose.map(_.sum)
    TapeInfo(Kinds.zip(sums).toMap, parts.map(_._4).sum, parts.map(_._5).sum,
      md.digest().map("%02x".format(_)).mkString)
  }

  /** Write the tape as `<dir>/events.parquet` (the layout `graft.Tables`
    * reads), generating bonds in parallel tasks. */
  def write(spark: SparkSession, spec: TapeSpec, seed: Long, dir: String,
      parts: Int): TapeInfo = {
    import spark.implicits._
    val acc = spark.sparkContext
      .collectionAccumulator[Part]("tape")
    spark.range(0, spec.bonds.toLong, 1, parts).as[Long].flatMap { b =>
      val t = bond(seed, spec, b)
      acc.add(part(b, t))
      t.events.iterator
    }.write.parquet(s"$dir/events.parquet")
    import scala.jdk.CollectionConverters._
    // a retried task adds its bond twice; keep one update per bond
    val got = acc.value.asScala.toSeq.groupBy(_._1).values.map(_.head).toSeq
    require(got.size == spec.bonds,
      s"tape digest saw ${got.size} of ${spec.bonds} bonds")
    fold(got)
  }

  /** The same tape held on the driver, one array per bond. */
  def generate(spec: TapeSpec, seed: Long): (Seq[Bond], TapeInfo) = {
    val bonds = (0 until spec.bonds).map(b => bond(seed, spec, b.toLong))
    (bonds, fold(bonds.zipWithIndex.map { case (t, b) => part(b.toLong, t) }))
  }
}
