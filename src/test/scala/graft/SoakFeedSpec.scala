package graft

import org.scalatest.funsuite.AnyFunSuite

/** The soak feed's bad-status values must land on every key between good
  * ones: the soaks' final-state oracle only checks the "last GOOD value"
  * rule on keys that have seen a bad value.
  */
class SoakFeedSpec extends AnyFunSuite {

  test("every (device, measure) slot sees good and bad values within 100 ticks") {
    val (nDevices, nMeasures) = (50, 4)
    val feed = new Soak.SoakFeed(nDevices, nMeasures, "s-dev-", 0L, 250000L, 100L)
    val perTick = nDevices * nMeasures
    val bad = (0L until feed.latest()).map(feed.at).groupBy(r => (r._1, r._2))
      .map { case (k, rows) => k -> rows.count(!_._5) }
    assert(bad.size == perTick)
    val neverBad = bad.toSeq.collect { case (k, 0) => k }
    val alwaysBad = bad.toSeq.collect { case (k, 100) => k }
    assert(neverBad.isEmpty, s"${neverBad.size} of $perTick keys never see a bad value")
    assert(alwaysBad.isEmpty, s"${alwaysBad.size} of $perTick keys never see a good value")
    // about the 10% rate overall
    val rate = bad.values.sum.toDouble / feed.latest()
    assert(rate > 0.08 && rate < 0.12, s"bad rate $rate")
  }
}
