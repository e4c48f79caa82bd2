package perfbench

import org.scalatest.funsuite.AnyFunSuite

class FeedsSpec extends AnyFunSuite {

  private val t0 = 1700000000000000L

  test("element i is a pure function of (seed, i)") {
    for (w <- Seq("ingest-hot", "ingest-fleet")) {
      val a = BenchFeed(w, 7L, t0)
      val b = BenchFeed(w, 7L, t0)
      val c = BenchFeed(w, 8L, t0)
      val idx = Seq(0L, 1L, 999L, 12345L, 987654L)
      assert(idx.map(a.element) == idx.map(b.element), w)
      assert(idx.map(a.element) != idx.map(c.element), w)
      // serving an element does not change it
      assert(idx.map(a.at) == idx.map(b.element), w)
    }
  }

  test("fleet: source times follow the log order, redeliveries copy an earlier element") {
    val f = new FleetFeed(3L, t0, devices = 20)
    f.silencePeriod = 4
    var prevTs = Long.MinValue
    val seen = scala.collection.mutable.HashSet.empty[Element.T]
    (0L until 6000L).foreach { i =>
      val e = f.element(i)
      if (f.isDuplicate(i)) {
        assert(e == f.element(f.originOf(i)))
        assert(seen.contains(e), s"redelivery $i of an unseen element")
      } else {
        assert(e._4 > prevTs, s"element $i out of creation order")
        assert(seen.add(e), s"element $i repeats earlier content without being a redelivery")
        prevTs = e._4
      }
    }
  }

  test("fleet: log length by time agrees with element creation times, across silence") {
    val f = new FleetFeed(5L, t0, devices = 20)
    f.silencePeriod = 3
    (0L until 3000L).foreach { i =>
      val (p, pt) = f.slotOf(i)
      val created = f.createdMicros(p, pt)
      assert(f.lengthAt(created) == i + 1, s"element $i")
    }
    // silenced devices never sample from the silence period on
    (f.silencedFrom until f.silencedFrom + 2000L).filterNot(f.isDuplicate).foreach { i =>
      assert(!f.isSilenced(f.element(i)._1))
    }
  }

  test("hot: every tick carries each item once, and the log outruns the clock") {
    val h = new HotFeed(1L, t0)
    val tick = (0L until h.items.toLong).map(h.element)
    assert(tick.map(e => (e._1, e._2)).distinct.size == h.items)
    assert(tick.map(_._4).distinct == Seq(t0))
    assert(h.lengthAt(t0 + 1000000L) == 400000L)
  }
}
