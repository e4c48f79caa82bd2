package perfbench

import org.scalatest.funsuite.AnyFunSuite

class OracleSpec extends AnyFunSuite {

  /** A hand-written log: element i is `rows(i)`, redeliveries marked. */
  private final class ScriptFeed(rows: IndexedSeq[Element.T], dups: Set[Long]) extends BenchFeed {
    val seed = 0L; val t0Us = 0L; val devices = 2; val measures = 1
    def element(i: Long): Element.T = rows(i.toInt)
    def isDuplicate(i: Long): Boolean = dups(i)
    def lengthAt(nowUs: Long): Long = rows.size.toLong
    def silencedFrom: Long = Long.MaxValue
    def isSilenced(device: String): Boolean = false
  }

  private val s = 1000000L
  // batch A = [0, 4), batch B = [4, 6)
  private val feed = new ScriptFeed(IndexedSeq(
    ("dev-0", "m0", 1.0, 1 * s, true),
    ("dev-1", "m0", 2.0, 1 * s, true),
    ("dev-0", "m0", 3.0, 2 * s, false), // bad status: never a value row
    ("dev-0", "m0", 1.0, 1 * s, true),  // redelivery of element 0
    ("dev-0", "m0", 5.0, 3 * s, true),
    ("dev-1", "m0", 6.0, 3 * s, false)), dups = Set(3L))
  private val batches = Seq((0L, 4L), (4L, 6L))

  test("last good value per key, online flag from each device's last batch") {
    val t = Oracle.expected(feed, batches, batches, livenessWatermarkMs = 0L)
    assert(t.values == Map(("dev-0", "m0") -> Oracle.Expected(5.0, 3 * s),
      ("dev-1", "m0") -> Oracle.Expected(2.0, 1 * s)))
    // dev-1's last batch held only a bad value
    assert(t.online == Map("dev-0" -> 1.0, "dev-1" -> 0.0))
  }

  test("a redelivery in a later batch does not replace the newer value") {
    val late = new ScriptFeed(IndexedSeq(
      ("dev-0", "m0", 1.0, 1 * s, true),
      ("dev-0", "m0", 5.0, 3 * s, true),
      ("dev-0", "m0", 1.0, 1 * s, true)), dups = Set(2L))
    val t = Oracle.expected(late, Seq((0L, 2L), (2L, 3L)), Seq((0L, 2L), (2L, 3L)), 0L)
    assert(t.values(("dev-0", "m0")) == Oracle.Expected(5.0, 3 * s))
    assert(t.online == Map("dev-0" -> 1.0))
  }

  test("silence: the timeout turns a device offline once the watermark passes its last event + 60 s") {
    val before = Oracle.expected(feed, batches, batches, livenessWatermarkMs = 63000L)
    val after = Oracle.expected(feed, batches, batches, livenessWatermarkMs = 63001L)
    assert(before.online("dev-0") == 1.0 && after.online("dev-0") == 0.0)
  }

  test("mismatches: exact table passes; a wrong value, a missing row and a wrong flag fail") {
    val t = Oracle.expected(feed, batches, batches, 0L)
    val good = Seq(
      Oracle.Row("dev-0", "m0", 5.0, 5.0, Oracle.lastUpdated(3 * s)),
      Oracle.Row("dev-1", "m0", 2.0, 2.0, Oracle.lastUpdated(1 * s)),
      Oracle.Row("dev-0", "myPV_online", 1.0, 1.0, "x"),
      Oracle.Row("dev-1", "myPV_online", 0.0, 0.0, "x"))
    assert(Oracle.mismatches(t, good, Set.empty).isEmpty)
    assert(Oracle.lastUpdated(3 * s) == "1970-01-01T00:00:03.000000")
    val hb = good.updated(0, good(0).copy(lastUpdated = "2026-01-01T00:00:00.000000"))
    assert(Oracle.mismatches(t, hb, Set.empty).size == 1)
    assert(Oracle.mismatches(t, hb, Set("2026-01-01T00:00:00.000000")).isEmpty)
    assert(Oracle.mismatches(t, good.updated(0, good(0).copy(tagValue = 6.0)), Set.empty).size == 1)
    assert(Oracle.mismatches(t, good.drop(1), Set.empty).size == 1)
    assert(Oracle.mismatches(t, good.updated(3, good(3).copy(measureValue = 1.0)), Set.empty).size == 1)
  }
}
