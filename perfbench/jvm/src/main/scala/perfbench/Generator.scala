package perfbench

import java.nio.file.{Path, Paths}
import graft.sources.{FeedTransport, OpcuaCrypto}

/** The load generator: one process of its own serving a [[BenchFeed]]
  * through [[FeedTransport.FeedServer]]. The program under test sees only
  * what this process serves.
  *
  *   java perfbench.Generator <workload> <seed> <runDir>
  *
  * Files in `runDir` are its only interface:
  *   - for `ingest-hot`, writes the client keystore `client.p12` and the
  *     server certificate `server.der` first (Basic256Sha256);
  *   - waits for `start` in `control.json`, then starts the feed's clock and
  *     writes `feed.json` (port, clock anchor) once serving, so the pipeline
  *     starts without a set-up backlog;
  *   - polls `control.json` for `silence_at_us`, `freeze_at_us` and `stop`;
  *   - rewrites `feed_state.json` (rows served, log length, freeze point,
  *     silence point) every 100 ms and on exit.
  */
object Generator {

  val KeystorePass = "perfbench"
  val Alias = "graft"
  /** Exit on its own if no `stop` arrives (the calling script was killed). */
  private val MaxLifetimeMs = 900000L

  def main(args: Array[String]): Unit = {
    val Array(workload, seedS, dirS) = args
    val dir = Paths.get(dirS)
    val identity =
      if (workload != "ingest-hot") None
      else {
        val server = OpcuaCrypto.generateSelfSigned("perfbench-feed")
        val client = OpcuaCrypto.generateSelfSigned("perfbench-client")
        OpcuaCrypto.saveIdentity(client, dir.resolve("client.p12").toString, KeystorePass, Alias)
        java.nio.file.Files.write(dir.resolve("server.der"), server.certDer)
        Some(server)
      }
    val started = System.currentTimeMillis()
    def control(key: String) = Json.read(dir.resolve("control.json")).exists(c => Json.number(c, key).contains(1.0))
    while (!control("start")) {
      if (control("stop") || System.currentTimeMillis() - started > MaxLifetimeMs) return
      Thread.sleep(10)
    }
    val feed = BenchFeed(workload, seedS.toLong, Clock.nowMicros())
    val server = new FeedTransport.FeedServer(feed, identity = identity)
    try {
      Json.write(dir.resolve("feed.json"), Map("port" -> server.boundPort, "t0_us" -> feed.t0Us))
      serve(feed, dir)
    } finally {
      server.close()
      writeState(feed, dir)
    }
  }

  private def serve(feed: BenchFeed, dir: Path): Unit = {
    val started = System.currentTimeMillis()
    var lastState = 0L
    var stop = false
    while (!stop && System.currentTimeMillis() - started < MaxLifetimeMs) {
      Json.read(dir.resolve("control.json")).foreach { c =>
        // both points are requested ahead of the served frontier, so no
        // element already served changes
        val now = Clock.nowMicros()
        (feed, Json.number(c, "silence_at_us")) match {
          case (f: FleetFeed, Some(at)) if f.silencePeriod == Long.MaxValue =>
            f.silencePeriod = f.periodAtOrAfter(math.max(at.toLong, now + 500000L))
          case _ => ()
        }
        Json.number(c, "freeze_at_us").foreach { at =>
          if (feed.freezeAt == Long.MaxValue)
            feed.freezeAt = feed.lengthAt(math.max(at.toLong, now))
        }
        stop = Json.number(c, "stop").contains(1.0)
      }
      if (System.currentTimeMillis() - lastState >= 100) {
        writeState(feed, dir); lastState = System.currentTimeMillis()
      }
      Thread.sleep(20)
    }
  }

  private def writeState(feed: BenchFeed, dir: Path): Unit =
    Json.write(dir.resolve("feed_state.json"), Map(
      "served" -> feed.served.get(),
      "length" -> feed.lengthAt(Clock.nowMicros()),
      "freeze_at" -> feed.freezeAt,
      "silenced_from" -> feed.silencedFrom,
      "silence_period" -> (feed match { case f: FleetFeed => f.silencePeriod; case _ => Long.MaxValue })))
}
