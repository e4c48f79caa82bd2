package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.DtoMapping.ConnectionDto

/** The soak's fault schedule and checkpoint naming, without Spark: kill
  * instants are a pure function of the seed the artifact records, and the
  * checkpoint a child resumes is named by the config it loaded.
  */
class SoakScheduleSpec extends AnyFunSuite {

  test("kill instants: inside their windows, 10 s clear of config mutations and the final drain") {
    for (durationS <- Seq(300, 420, 600); seed <- -100L to 400L) {
      val kills = Soak.killInstants(seed, durationS)
      assert(kills == Soak.killInstants(seed, durationS), "same seed, same instants")
      assert(kills.size == 2)
      kills.zipWithIndex.foreach { case (k, i) =>
        val (lo, hi) = (durationS * (0.20 + 0.275 * i), durationS * (0.20 + 0.275 * (i + 1)))
        assert(k >= lo && k < hi, s"seed $seed, ${durationS}s: kill $i at $k outside [$lo, $hi)")
        val clearOf = Seq(Soak.AddAt, Soak.UpdateAt, Soak.DeleteAt).map(_ * durationS) :+ durationS.toDouble
        clearOf.foreach(m =>
          assert(math.abs(k - m) >= 10.0, s"seed $seed, ${durationS}s: kill $i at $k within 10 s of $m"))
      }
    }
    assert(Soak.killInstants(1L, 420) != Soak.killInstants(2L, 420))
  }

  test("checkpoint digest: equal configs share one; add, update and delete each change it") {
    val a = ConnectionDto(1, "opc.tcp://127.0.0.1:4840", "user", "pw", 5000, 100, Seq.empty)
    val b = ConnectionDto(2, "opc.tcp://127.0.0.1:4841", "user", "pw", 5000, 100, Seq.empty)
    val start = Soak.configDigest(Seq(a))
    val added = Soak.configDigest(Seq(a, b))
    val updated = Soak.configDigest(Seq(a.copy(timeoutMs = 9000), b))
    val deleted = Soak.configDigest(Seq(a.copy(timeoutMs = 9000)))
    assert(Soak.configDigest(Seq(a.copy())) == start)
    assert(Soak.configDigest(Seq(b, a)) == added, "connection order does not name a config")
    assert(Soak.configDigest(Seq(a, b.copy(browseExclusionFolders = Vector.empty))) == added)
    assert(Seq(start, added, updated, deleted).distinct.size == 4)
    assert(Soak.configDigest(Seq(a.copy(browseExclusionFolders = Seq("Server")))) != start)
  }
}
