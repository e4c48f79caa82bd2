package perfbench

import java.util.concurrent.atomic.AtomicLong
import graft.sources.MeasureFeed

/** One generated notification: (device, measure, value, sourceMicros, statusOk),
  * the record shape of [[graft.sources.MeasureFeed.at]].
  */
object Element {
  type T = (String, String, Double, Long, Boolean)
}

object Mix {
  /** SplitMix64 finaliser. */
  def mix64(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** A pure hash of (seed, index, salt). */
  def h(seed: Long, i: Long, salt: Long): Long = mix64(mix64(seed * 31 + salt) ^ i)

  /** Two-decimal value in [0, 1000). */
  def value(seed: Long, i: Long): Double = java.lang.Math.floorMod(h(seed, i, 1), 100000L) / 100.0

  /** Every 10th value (in hash order) carries a bad status. */
  def statusOk(seed: Long, i: Long): Boolean = java.lang.Math.floorMod(h(seed, i, 2), 10L) != 0
}

/** A benchmark feed: an append-only log whose element `i` is a pure
  * function of (seed, i) and the feed's clock anchor `t0Us`. The log grows
  * with the wall clock; `freezeAt` stops it at a fixed length so the final
  * table can be checked against [[Oracle]].
  */
trait BenchFeed extends MeasureFeed {
  def seed: Long
  def t0Us: Long
  def devices: Int
  def measures: Int
  final def items: Int = devices * measures

  /** Element `i`; served or not, it never changes. */
  def element(i: Long): Element.T

  /** True when `i` is a redelivery of an earlier element. */
  def isDuplicate(i: Long): Boolean

  /** Log length once the clock reads `nowUs`. */
  def lengthAt(nowUs: Long): Long

  /** Devices that stop sampling, and from which element on (`Long.MaxValue` = never). */
  def silencedFrom: Long
  def isSilenced(device: String): Boolean

  @volatile var freezeAt: Long = Long.MaxValue
  val served = new AtomicLong(0L)

  override def latest(): Long = math.min(lengthAt(Clock.nowMicros()), freezeAt)
  override def at(i: Long): Element.T = { served.incrementAndGet(); element(i) }
}

object Clock {
  def nowMicros(): Long = {
    val t = java.time.Instant.now()
    t.getEpochSecond * 1000000L + t.getNano / 1000L
  }
}

/** `ingest-hot`: 100 devices × 10 measures, every tick one value per item,
  * one tick per event-time second, offered at `rateEps` rows per wall
  * second — far ahead of the source's discard-oldest cap, so every
  * micro-batch admits a full queue and event time runs hundreds of times
  * faster than the wall clock (the 60 s dedup watermark evicts within
  * a few batches).
  */
final class HotFeed(val seed: Long, val t0Us: Long, rateEps: Long = 400000L,
                    val devices: Int = 100, val measures: Int = 10) extends BenchFeed {
  def element(i: Long): Element.T = {
    val j = (i % items).toInt
    val tick = i / items
    (s"dev-${j / measures}", s"m${j % measures}", Mix.value(seed, i),
      t0Us + tick * 1000000L, Mix.statusOk(seed, i))
  }
  def isDuplicate(i: Long): Boolean = false
  def lengthAt(nowUs: Long): Long =
    if (nowUs <= t0Us) 0L else (nowUs - t0Us) / 1000L * rateEps / 1000L
  def silencedFrom: Long = Long.MaxValue
  def isSilenced(device: String): Boolean = false
}

/** `ingest-fleet`: `devices` × `measures` points, each sampled once per
  * `periodUs` with staggered phases (point j samples at t0 + k·P + j·P/N),
  * so the log grows at N/P rows per second and every row's source time is
  * its creation instant. A fixed share of rows are redeliveries of the row
  * `dupLag` positions earlier (same content, so dedup must drop them), every
  * 10th value is bad, and from period `silencePeriod` on every tenth device
  * (device % 10 == 9) stops sampling.
  */
final class FleetFeed(val seed: Long, val t0Us: Long, val devices: Int,
                      val measures: Int = 10, periodUs: Long = 5000000L,
                      dupPermille: Int = 20) extends BenchFeed {
  require(devices % 10 == 0, "fleet devices must be a multiple of 10")
  private val n = items.toLong
  private val active = n - n / 10
  val dupLag: Long = n / 2

  @volatile var silencePeriod: Long = Long.MaxValue

  def silencedFrom: Long = if (silencePeriod == Long.MaxValue) Long.MaxValue else silencePeriod * n
  def isSilenced(device: String): Boolean = device.stripPrefix("dev-").toInt % 10 == 9

  /** Points below `c` in period order that belong to silenced devices. */
  private def silencedBelow(c: Long): Long = {
    val group = 10L * measures
    (c / group) * measures + math.max(0L, c % group - 9L * measures)
  }
  /** The p-th point (in period order) of an active device. */
  private def activePoint(p: Long): Long = {
    val group = 9L * measures
    (p / group) * 10L * measures + p % group
  }

  /** (period, point) of element `i`. */
  def slotOf(i: Long): (Long, Long) =
    if (i < silencedFrom) (i / n, i % n)
    else {
      val post = i - silencedFrom
      (silencePeriod + post / active, activePoint(post % active))
    }

  def createdMicros(period: Long, point: Long): Long = t0Us + period * periodUs + point * periodUs / n

  def isDuplicate(i: Long): Boolean =
    i >= dupLag && java.lang.Math.floorMod(Mix.h(seed, i, 3), 1000L) < dupPermille

  /** The original sample a (possibly repeated) redelivery copies. */
  def originOf(i: Long): Long = { var s = i; while (isDuplicate(s)) s -= dupLag; s }

  def element(i: Long): Element.T = {
    val (period, point) = slotOf(originOf(i))
    val slot = period * n + point
    (s"dev-${point / measures}", s"m${point % measures}", Mix.value(seed, slot),
      createdMicros(period, point), Mix.statusOk(seed, slot))
  }

  def lengthAt(nowUs: Long): Long =
    if (nowUs < t0Us) 0L
    else {
      val el = nowUs - t0Us
      val period = el / periodUs
      val inPeriod = math.min(n, (el % periodUs) * n / periodUs + 1)
      if (period < silencePeriod) period * n + inPeriod
      else silencePeriod * n + (period - silencePeriod) * active + inPeriod - silencedBelow(inPeriod)
    }

  /** First period boundary at or after `atUs`. */
  def periodAtOrAfter(atUs: Long): Long = math.max(0L, (atUs - t0Us + periodUs - 1) / periodUs)
}

object FleetFeed {
  /** A fifth of a 10,000-device plant: the split pipeline keeps up with
    * margin on a 4-core box.
    */
  val Devices = 2000
}

object BenchFeed {
  /** The feed of a workload, rebuilt identically in the generator and in
    * the harness (which needs it for the oracle).
    */
  def apply(workload: String, seed: Long, t0Us: Long): BenchFeed =
    workload match {
      case "ingest-hot" => new HotFeed(seed, t0Us)
      case "ingest-fleet" => new FleetFeed(seed, t0Us, FleetFeed.Devices)
      case other => throw new IllegalArgumentException(s"no feed for workload $other")
    }
}
