package graft

import java.io.File
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong, AtomicReference}
import scala.collection.concurrent.TrieMap
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, Trigger}
import graft.control.{ControlPlane, ControlPlaneHttp}
import graft.operators.BrowseJobRegistry
import graft.operators.CurrentValues.OnlineMeasure
import graft.operators.DtoMapping.ConnectionDto
import graft.sources.{FeedTransport, MeasureFeed, MeasureSourceProvider}
import graft.streaming.{ConfigReload, CurrentValuesSink, FusedPipeline, IngestPipeline, IngestProfile, JdbcUpsert}

/** End-to-end streaming soak: one sustained run of the deployed pipeline
  * through every fault the reference's service must ride out — config
  * reloads (`Services/OpcSubscribeService.cs:79-98,419-424`), bad-status
  * values, a silent server (`:809-957`) and process death.
  *
  * This main is the supervisor. It owns everything a crash must not
  * destroy:
  *   - the user-visible `modvalues` table, a live ephemeral Postgres
  *     ([[Harness.withModvalues]]);
  *   - two framed-socket OPC UA feed servers ([[FeedTransport.FeedServer]])
  *     and their sim clock — the feeds are pure in the sequence number, so
  *     any offset can be replayed;
  *   - the config directory behind [[ControlPlaneHttp]], mutated over
  *     real HTTP;
  *   - a poller that reads liveness-flag transitions from the database;
  *   - the final-state oracle and the artifact.
  *
  * The pipeline is a child JVM ([[SoakChild]]) that runs as deployed:
  * [[ConfigReload]] over the config directory → one socket source per
  * connection → [[IngestPipeline]] (or [[FusedPipeline]]) on the RocksDB
  * state store, plus production's watchdog and heartbeat queries, all
  * checkpointed under a digest of the config they loaded. At two seeded
  * instants the supervisor `kill -9`s the child (no shutdown hooks,
  * mid-batch, arbitrary JDBC transactions in flight) and starts a new one,
  * which resumes its own checkpoint.
  *
  * Timeline (fractions of SPARK_GRAFT_SOAK_SECONDS, default 600):
  *   15%  POST  /api/client/config/add     — server B joins → relaunch
  *   30%  devices a-dev-0..9 emit bad-status values
  *        → liveness 1→0 (reference `:585`: bad status = offline NOW)
  *   40%  bad window ends → liveness 0→1
  *   45%  server B's clock freezes (silent server; A keeps advancing the
  *        event-time watermark) → the watchdog fires once A's events
  *        pass B's last by its 180 s timeout plus its 180 s watermark
  *        delay (90 s wall) → every b-device offline (T3 fan-out)
  *   75%  B resumes AT A's CLOCK (an OPC UA reconnect backfill)
  *   80%  PATCH /api/client/config/update  — innocuous edit → relaunch
  *   83%  B's clock freezes again; at 87% the supervisor waits (≤ 60 s)
  *        until every B key in the table holds B's last good value
  *   87%  DELETE /api/client/config/delete/2 → relaunch, A-only; B's
  *        devices stay offline after the K3 reset
  *   kill -9 twice, between the add and the update ([[killInstants]])
  *
  * Sim time runs 4× wall (16 ticks/s × 250 ms/tick), so the 60 s liveness
  * and 180 s watchdog EVENT-TIME constants elapse in 15/45 wall-seconds.
  *
  * Contract: the FINAL TABLE. Every (device, measure) row equals the last
  * GOOD value its feed published, replayed by the supervisor from the
  * feeds' pure `at(i)`; every A device ends online and, on runs long enough for
  * the event-time windows (≥ 420 s), every B device offline. Row counts
  * are diagnostics: `delivered` sums the value-sink input over all
  * incarnations, so a kill's replayed tail inflates it, while a backfill
  * older than the T6 queue (`queueCapacity`, 1000 ticks per item) is
  * DiscardOldest-truncated and deflates it.
  */
object Soak {

  /** [[graft.sources.SimulatedFeed]] plus the soak's two control knobs:
    * a device-name prefix (two servers must not collide on device keys)
    * and `badBelow` — devices below the index emit status_ok=false, the
    * fault the liveness machine exists to surface. Pure in `i` for fixed
    * knobs; the final-state oracle replays `at` after the knobs settle.
    */
  final class SoakFeed(nDevices: Int, nMeasures: Int, prefix: String,
                       startMicros: Long, intervalMicros: Long,
                       @volatile var clockTicks: Long) extends MeasureFeed {
    @volatile var badBelow: Int = 0
    private val perTick = nDevices.toLong * nMeasures
    override def latest(): Long = clockTicks * perTick
    override def at(i: Long): (String, String, Double, Long, Boolean) = {
      val tick = i / perTick
      val slot = i % perTick
      val dev = (slot / nMeasures).toInt
      val m = slot % nMeasures
      // SplitMix64's finaliser over the sequence number: the bad 10% moves
      // between keys from tick to tick. A multiplicative hash alone keeps
      // i mod 10, i.e. the slot, and always marks the same keys bad.
      var z = i + 0x9E3779B97F4A7C15L
      z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
      z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
      val k = java.lang.Long.remainderUnsigned(z ^ (z >>> 31), 1000L)
      val ok = k % 10 != 0 && dev >= badBelow
      (s"$prefix$dev", s"m$m", (k % 997).toDouble / 10.0,
        startMicros + tick * intervalMicros, ok)
    }
  }

  /** The config mutations' instants, as fractions of the run. */
  val AddAt = 0.15
  val UpdateAt = 0.80
  val DeleteAt = 0.87

  /** The two kill -9 instants, in seconds into a run of `durationS`: kill
    * `i` falls uniformly in [0.20 + 0.275 i, 0.20 + 0.275 (i + 1)) of the
    * run, so the kills land in the bad-status window and the silent
    * server. From 300 s on both stay at least 15 s clear of every config
    * mutation and of the final drain.
    */
  def killInstants(seed: Long, durationS: Int): Seq[Double] = {
    val rnd = new scala.util.Random(seed)
    (0 until 2).map(i => durationS * (0.20 + 0.275 * (i + rnd.nextDouble())))
  }

  /** The checkpoint directory a config runs under: a digest of its
    * connections. A kill -9 resumes the checkpoint of an unchanged config;
    * any add, update or delete starts a fresh one.
    */
  def configDigest(conns: Seq[ConnectionDto]): String = {
    // as Lists, so the folders' collection type does not name a config
    val text = conns.sortBy(_.id)
      .map(c => c.copy(browseExclusionFolders = c.browseExclusionFolders.toList)).mkString("\n")
    java.security.MessageDigest.getInstance("SHA-256").digest(text.getBytes(UTF_8))
      .take(8).map("%02x".format(_)).mkString
  }

  private[graft] val Db = "soak"
  private[graft] val AesKey = "0123456789abcdef0123456789abcdef"
  // the ingest mode and freshness profile the child runs (and the artifact records)
  private[graft] lazy val Pipeline = sys.env.getOrElse("SPARK_GRAFT_SOAK_PIPELINE", "split")
  private[graft] lazy val Profile = sys.env.getOrElse("SPARK_GRAFT_SOAK_PROFILE", "default")

  private final case class TimelineEvent(wallS: Double, event: String)

  def main(args: Array[String]): Unit = {
    val durationS = sys.env.getOrElse("SPARK_GRAFT_SOAK_SECONDS", "600").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "SOAK_r8.json")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8")
    val killSeed = new java.security.SecureRandom().nextLong()
    val killAts = killInstants(killSeed, durationS)
    val nDevices = 50
    val nMeasures = 4
    val ticksPerFire = 4L // fired every 250 ms wall → 16 ticks/s = sim 4× wall

    // the control plane maps its DTOs through Spark; the pipeline's own
    // session lives in the child
    val spark = Harness.session("local[2]", 2, logLevel = "ERROR")
    val rc = try Harness.withModvalues(Db) { (connect, target) =>

    // ---- two framed-socket feed servers ----
    val startMicros = 1704067200000000L
    val feedA = new SoakFeed(nDevices, nMeasures, "a-dev-", startMicros, 250000L, 1L)
    val feedB = new SoakFeed(nDevices, nMeasures, "b-dev-", startMicros, 250000L, 1L)
    val srvA = new FeedTransport.FeedServer(feedA)
    val srvB = new FeedTransport.FeedServer(feedB)
    val urlA = s"opc.tcp://127.0.0.1:${srvA.boundPort}"
    val urlB = s"opc.tcp://127.0.0.1:${srvB.boundPort}"
    @volatile var bTicking = true
    @volatile var ticking = true
    val ticker = new Thread(() => {
      while (ticking) {
        Thread.sleep(250)
        feedA.clockTicks += ticksPerFire
        if (bTicking) feedB.clockTicks = feedA.clockTicks // resume = jump to now
      }
    }, "soak-ticker")
    ticker.setDaemon(true)

    // ---- control plane over real HTTP ----
    val configDir = Files.createTempDirectory("soak-config").toFile
    val markerDir = Files.createTempDirectory("soak-markers").toFile
    val plane = new ControlPlane(spark, configDir, AesKey, new BrowseJobRegistry(markerDir))
    plane.add(ConnectionDto(1, urlA, "user", "pw", 5000, 100, Seq.empty))
    val http = new ControlPlaneHttp(plane).start()
    val httpBase = s"http://127.0.0.1:${http.boundPort}"
    val client = java.net.http.HttpClient.newHttpClient()
    def httpCall(method: String, path: String, body: Option[String]): Int = {
      import java.net.http.HttpRequest.BodyPublishers
      val req = java.net.http.HttpRequest.newBuilder(java.net.URI.create(s"$httpBase$path"))
        .method(method, body.map(j => BodyPublishers.ofString(j)).getOrElse(BodyPublishers.noBody()))
      client.send(req.build(), java.net.http.HttpResponse.BodyHandlers.ofString()).statusCode()
    }
    def dtoJson(id: Int, url: String, timeoutMs: Int): String =
      s"""{"id":$id,"url":"$url","username":"user","password":"pw","timeoutMs":$timeoutMs,"maxSearch":100,"browseExclusionFolders":[]}"""

    val timeline = new ConcurrentLinkedQueue[TimelineEvent]()
    val t0 = System.nanoTime()
    def wallS: Double = (System.nanoTime() - t0) / 1e9
    def mark(ev: String): Unit = { timeline.add(TimelineEvent(wallS, ev)); println(f"[soak] $wallS%6.1f s  $ev") }

    // K1/K3 bootstrap: seed all keys + online rows, zero the flags
    val allPoints = for {
      p <- Seq("a-dev-", "b-dev-"); i <- 0 until nDevices; m <- 0 until nMeasures
    } yield (s"$p$i", s"m$m")
    CurrentValuesSink.seedAndReset(allPoints, "1970-01-01T00:00:00.000000", target)

    // ---- the child pipeline JVM ----
    val ckptRoot = Files.createTempDirectory("soak-ckpt").toFile
    val stopFile = new File(ckptRoot, "STOP")
    // the child's temp files: a kill -9 skips the hooks that delete them
    val childTmp = new File(ckptRoot, "tmp")
    childTmp.mkdirs()
    // the last progress line of each incarnation, summed at the end. A
    // killed child's pump can still be draining buffered stdout while the
    // next incarnation's pump writes, hence the concurrent maps.
    val deliveredPerInc = TrieMap.empty[Int, Long]
    val silencesPerInc = TrieMap.empty[Int, Long]
    val launches = new AtomicInteger(0)
    val childExits = mutable.ArrayBuffer.empty[(Int, Int)] // (incarnation, exit code)
    val ProgressLine = """\[child\] delivered=(\d+) silence_events=(\d+)""".r
    val javaBin = new File(new File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath

    def spawn(incarnation: Int): Process = {
      val cmd = Seq(javaBin) ++ Harness.AddOpens ++ Seq(
        "-Xmx6g", s"-Djava.io.tmpdir=$childTmp", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-cp", System.getProperty("java.class.path"), "graft.SoakChild",
        connect.port.toString, configDir.getPath, ckptRoot.getPath,
        nDevices.toString, nMeasures.toString, incarnation.toString,
        "a-dev-", urlA, "b-dev-", urlB)
      val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
      mark(s"child $incarnation spawned (pid ${p.pid()})")
      val pump = new Thread(() => {
        val out = new java.io.BufferedReader(new java.io.InputStreamReader(p.getInputStream))
        out.lines().forEach(line => line match {
          case ProgressLine(d, s) =>
            deliveredPerInc(incarnation) = d.toLong
            if (s.toLong > silencesPerInc.getOrElse(incarnation, 0L))
              mark(s"inc$incarnation watchdog silence event ($s in this incarnation)")
            silencesPerInc(incarnation) = s.toLong
          case line if line.startsWith("[child]") =>
            if (line.startsWith("[child] launch")) launches.incrementAndGet()
            mark(s"inc$incarnation ${line.stripPrefix("[child]").trim.take(160)}")
          case _ => ()
        })
      }, s"child-$incarnation-pump")
      pump.setDaemon(true); pump.start()
      p
    }

    ticker.start()
    var incarnation = 0
    var child = spawn(incarnation)
    sys.addShutdownHook(child.destroyForcibly())

    // ---- liveness observer: poll the DATABASE for flag transitions ----
    val offlineTransitions = new AtomicLong(0L)
    val onlineTransitions = new AtomicLong(0L)
    @volatile var polling = true
    def onlineFlags(): Map[String, Double] = Harness.readModvalues(connect)
      .collect { case r if r.measure_name == OnlineMeasure => r.device -> r.measure_value }.toMap
    val poller = new Thread(() => {
      var lastFlags = Map.empty[String, Double]
      while (polling) {
        Thread.sleep(3000)
        try {
          val now = onlineFlags()
          now.foreach { case (d, f) =>
            lastFlags.get(d) match {
              case Some(prev) if prev != f =>
                if (f == 0.0) offlineTransitions.incrementAndGet()
                else onlineTransitions.incrementAndGet()
                mark(s"liveness $d: $prev -> $f")
              case _ => ()
            }
          }
          lastFlags = now
        } catch { case _: Exception => () } // a failed poll retries next tick
      }
    }, "soak-poller")
    poller.setDaemon(true)
    poller.start()

    // ---- the final-state oracle: last GOOD value per key, replayed from at(i) ----
    def lastGood(feed: SoakFeed): Map[(String, String), Double] = {
      val perTick = nDevices.toLong * nMeasures
      val lastTick = feed.clockTicks - 1
      (for (d <- 0 until nDevices; m <- 0 until nMeasures) yield (d, m)).flatMap { case (d, m) =>
        (lastTick to math.max(0L, lastTick - 200L) by -1L).iterator
          .map(t => feed.at(t * perTick + d.toLong * nMeasures + m))
          .collectFirst { case (dev, mm, v, _, true) => ((dev, mm), v) }
      }.toMap
    }
    def mismatches(expected: Map[(String, String), Double]): Seq[String] = {
      val actual = Harness.readModvalues(connect).map(r => (r.device, r.measure_name) -> r.tag_value).toMap
      expected.toSeq.sorted.flatMap { case (k, exp) =>
        actual.get(k) match {
          case Some(act) if math.abs(act - exp) < 1e-3 => None // REAL column: float32
          case other => Some(s"${k._1}/${k._2}: expected $exp got $other")
        }
      }
    }

    // ---- the script ----
    def sleepUntil(s: Double): Unit = {
      val ms = ((s - wallS) * 1000).toLong
      if (ms > 0) Thread.sleep(ms)
    }
    def killChild(): Unit = {
      mark(s"kill -9 child $incarnation (delivered so far: ${deliveredPerInc.getOrElse(incarnation, 0L)})")
      // record the REAL exit code: a child that died on its own before the
      // kill must not read as a kill -9 (137) in the artifact
      if (!child.isAlive) mark(s"child $incarnation was ALREADY DEAD (exit ${child.exitValue()})")
      child.destroyForcibly()
      child.waitFor()
      childExits += incarnation -> child.exitValue()
      incarnation += 1
      child = spawn(incarnation)
    }
    val mutations = mutable.Map.empty[String, Int]
    val script: Seq[(Double, () => Unit)] = Seq(
      AddAt -> { () =>
        mutations("add") = httpCall("POST", "/api/client/config/add", Some(dtoJson(2, urlB, 5000)))
        mark(s"HTTP add server B -> ${mutations("add")}")
      },
      0.30 -> { () => feedA.badBelow = 10; mark("a-dev-0..9 now bad-status") },
      0.40 -> { () => feedA.badBelow = 0; mark("a-dev bad window over") },
      0.45 -> { () => bTicking = false; mark("server B clock frozen (silence)") },
      0.75 -> { () => bTicking = true; mark("server B resumed at live clock") },
      UpdateAt -> { () =>
        mutations("update") = httpCall("PATCH", "/api/client/config/update", Some(dtoJson(1, urlA, 9000)))
        mark(s"HTTP update server A -> ${mutations("update")}")
      },
      0.83 -> { () => bTicking = false; mark("server B clock frozen (drain before delete)") },
      DeleteAt -> { () =>
        // unsubscribe discipline: B's tail must be in the table before B
        // leaves the config, or the delete races B's last rows
        val expectedB = lastGood(feedB)
        val deadline = wallS + 60
        var behind = mismatches(expectedB)
        while (behind.nonEmpty && wallS < deadline) { Thread.sleep(1000); behind = mismatches(expectedB) }
        mutations("delete") = httpCall("DELETE", "/api/client/config/delete/2", None)
        mark(s"HTTP delete server B -> ${mutations("delete")} (pre-delete drain " +
          (if (behind.isEmpty) "complete)" else s"TIMED OUT at 60 s, ${behind.size} B keys behind)"))
      }
    ).map { case (frac, step) => (durationS * frac, step) } ++ killAts.map(_ -> (() => killChild()))
    script.sortBy(_._1).foreach { case (atS, step) => sleepUntil(atS); step() }
    sleepUntil(durationS)

    // ---- stop the clock, let the child drain and exit ----
    ticking = false
    Thread.sleep(1500)
    val offeredA = feedA.latest()
    val offeredB = feedB.latest()
    mark(s"script complete; clock stopped at ${feedA.clockTicks} ticks; requesting drain")
    Files.write(stopFile.toPath, "stop".getBytes(UTF_8))
    if (!child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)) {
      mark("child drain TIMED OUT at 180 s; killing")
      child.destroyForcibly(); child.waitFor()
    }
    childExits += incarnation -> child.exitValue()
    mark(s"child $incarnation exited ${child.exitValue()}")
    polling = false
    poller.join() // its last poll must not race the final read
    http.stop()
    srvA.close(); srvB.close()

    val expected = lastGood(feedA) ++ lastGood(feedB)
    val mismatched = mismatches(expected)
    val finalFlags = onlineFlags()
    val aOnline = finalFlags.count { case (d, f) => d.startsWith("a-") && f == 1.0 }
    val bOffline = finalFlags.count { case (d, f) => d.startsWith("b-") && f == 0.0 }
    val silenceEvents = silencesPerInc.values.sum
    val killedExits = childExits.init.map(_._2)

    val offered = offeredA + offeredB
    val delivered = deliveredPerInc.values.sum
    import Harness.q
    val timelineJson = timeline.asScala
      .map(e => f"""{"t":${e.wallS}%.1f,"event":${q(e.event)}}""").mkString("[", ",", "]")
    val exitsJson = childExits
      .map { case (i, c) => s"""{"incarnation":$i,"exit":$c}""" }.mkString("[", ",", "]")
    // the mutation and watchdog expectations only bind on runs long enough
    // for the event-time windows to elapse (≥ 420 s)
    val pass = mismatched.isEmpty && aOnline == nDevices &&
      killedExits.forall(_ == 137) && childExits.last._2 == 0 &&
      (durationS < 420 || (bOffline == nDevices && silenceEvents >= 1 &&
        Seq("add", "update", "delete").forall(mutations.get(_).contains(200))))
    val tree = Harness.gitTree()
    val json =
      s"""{"metric":"soak","commit":${q(tree.stripSuffix("+dirty"))},"dirty":${tree.endsWith("+dirty")},""" +
      s""""nproc":${Runtime.getRuntime.availableProcessors()},"cpus":$cpus,"pipeline":${q(Pipeline)},"profile":${q(Profile)},""" +
      s""""state_store":"rocksdb","db":"pg","duration_sec":$durationS,"kill_seed":$killSeed,""" +
      s""""kill_at_s":${killAts.map(k => f"$k%.1f").mkString("[", ",", "]")},"child_exits":$exitsJson,""" +
      s""""launches":${launches.get()},"offered":$offered,"offered_a":$offeredA,"offered_b":$offeredB,""" +
      f""""delivered":$delivered,"delivered_vs_offered":${delivered.toDouble / offered}%.2f,""" +
      s""""config_mutations":{"add":${mutations.getOrElse("add", -1)},"update":${mutations.getOrElse("update", -1)},"delete":${mutations.getOrElse("delete", -1)}},""" +
      s""""liveness_offline_transitions":${offlineTransitions.get()},"liveness_online_transitions":${onlineTransitions.get()},""" +
      s""""watchdog_silence_events":$silenceEvents,"final_a_online":$aOnline,"final_b_offline":$bOffline,""" +
      s""""final_state_keys":${expected.size},"final_state_mismatches":${mismatched.size},""" +
      s""""zero_loss_final_state":${mismatched.isEmpty},"pass":$pass,"timeline":$timelineJson}"""
    Files.write(java.nio.file.Paths.get(outPath), (json + "\n").getBytes(UTF_8))
    println(json)
    if (mismatched.nonEmpty) {
      println(s"[soak] ${mismatched.size} final-state mismatches, first 10:")
      mismatched.take(10).foreach(m => println(s"[soak]   $m"))
    }
    // a failed run keeps its config and checkpoints for the post-mortem
    def rmTree(f: File): Unit = { Option(f.listFiles()).foreach(_.foreach(rmTree)); f.delete() }
    if (pass) Seq(configDir, markerDir, ckptRoot).foreach(rmTree)
    if (pass) 0 else 1
    } finally spark.stop()
    if (rc != 0) sys.exit(rc)
  }
}

/** The deployed pipeline of [[Soak]], in a JVM the supervisor kill -9s.
  * [[ConfigReload]] watches the supervisor's config directory; each launch
  * reads the connections, opens one socket source per connection and
  * starts the ingest pipeline plus production's server watchdog, all
  * checkpointed under `<ckptRoot>/<configDigest>`. A fresh checkpoint (a
  * changed config) first applies the K3 offline reset, as the reference's
  * resubscribe does; a resumed one (a restart after a kill) keeps the flags
  * its liveness state produced. The heartbeat runs once per JVM. The state
  * store is RocksDB, the production provider, whose checkpointed files are
  * exactly what must survive the kill.
  *
  * Progress goes to stdout for the supervisor: `[child] delivered=N
  * silence_events=M` (cumulative in this JVM), `[child] launch ...` and
  * `[child] QUERY DIED: ...`.
  */
object SoakChild {
  def main(args: Array[String]): Unit = {
    val Array(pgPort, configDir, ckptRoot, nDevicesArg, nMeasuresArg, incarnation) = args.take(6)
    val (nDevices, nMeasures) = (nDevicesArg.toInt, nMeasuresArg.toInt)
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "8").toInt
    val spark = Harness.session(s"local[$cpus]", cpus, logLevel = "ERROR", extra = Map(
      "spark.app.name" -> s"graft-soak-child-$incarnation",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))
    import spark.implicits._
    // (device prefix, url) of every feed server: the watchdog's device dim
    val dim = args.drop(6).grouped(2).toSeq
      .flatMap { case Array(prefix, url) => (0 until nDevices).map(i => (s"$prefix$i", url)) }
      .toDF("device", "server")
    val target = new JdbcUpsert.Target(
      Harness.PgConnect(pgPort.toInt, Soak.Db), dialect = JdbcUpsert.Postgres)

    val delivered = new AtomicLong(0L)
    val silences = new AtomicLong(0L)
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      // a query that dies mid-soak must say so: otherwise only the
      // final-state check exposes it, minutes later
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach(m => println(s"[child] QUERY DIED: ${e.runId} -> ${m.take(300)}"))
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val p = e.progress
        val counted = p.name match {
          // value-path admission: the split value query or the fused one
          case "graft-values" | "graft-fused" => delivered.addAndGet(p.numInputRows); true
          // the watchdog's state operator removes a server's state only
          // when it emits that server's silence event
          case "graft-watchdog" => silences.addAndGet(p.stateOperators.map(_.numRowsRemoved).sum); true
          case _ => false
        }
        if (counted) println(s"[child] delivered=${delivered.get()} silence_events=${silences.get()}")
      }
    })

    // the soak's 1 s trigger in either profile: kills must land mid-batch
    val profile = IngestProfile.byName(Soak.Profile).copy(trigger = Trigger.ProcessingTime("1 second"))
    val plane = new ControlPlane(spark, new File(configDir), Soak.AesKey,
      new BrowseJobRegistry(new File(ckptRoot, "browse-markers")))
    val handleRef = new AtomicReference[IngestPipeline.Handle]()
    val watchdogRef = new AtomicReference[StreamingQuery]()
    def launch(): StreamingQuery = {
      Option(handleRef.get()).foreach(_.stop())
      Option(watchdogRef.get()).foreach(_.stop())
      val conns = plane.list()
      val ckpt = new File(ckptRoot, Soak.configDigest(conns))
      val fresh = !ckpt.exists()
      // K3: the reference's resubscribe bulk-resets every myPV_online flag
      // and lets live values re-online the devices still configured
      // (`Services/OpcSubscribeService.cs:257-259`); without it a deleted
      // server's devices would stay online forever
      if (fresh) target.offlineReset(java.time.format.DateTimeFormatter
        .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
        .withZone(java.time.ZoneOffset.UTC).format(java.time.Instant.now()))
      println(s"[child] launch ${ckpt.getName} (${if (fresh) "fresh" else "resumed"}): " +
        conns.map(_.url).mkString(", "))
      val sources = conns.map { conn =>
        val uri = java.net.URI.create(conn.url)
        conn.url -> spark.readStream.format(classOf[MeasureSourceProvider].getName)
          .option("nDevices", nDevices).option("nMeasures", nMeasures)
          .option("numPartitions", 2)
          .option("feedHost", uri.getHost).option("feedPort", uri.getPort)
          .option("chunkRows", 65536L)
          // live cadence is 16 ticks/s against 1 s triggers: the default
          // 10-tick T6 queue would DiscardOldest on every live trigger.
          // 1000 ticks keeps the live path lossless while still capping
          // replay bursts (the reconnect-backfill semantic).
          .option("queueCapacity", 1000L)
          .load()
      }
      val raw = sources.map(_._2).reduce(_ union _)
      val handle =
        if (Soak.Pipeline == "fused") FusedPipeline.start(raw, target, 1.0, 0.0, profile, Some(ckpt.getPath))
        else IngestPipeline.start(raw, target, 1.0, 0.0, profile, Some(ckpt.getPath))
      handleRef.set(handle)
      val withServer = sources.map { case (url, df) => df.withColumn("server", lit(url)) }.reduce(_ union _)
      watchdogRef.set(IngestPipeline.watchdogQuery(
        withServer, dim, target, profile.trigger, Some(ckpt.getPath)))
      handle.valueQuery
    }

    // the heartbeat is stateless and runs once for the JVM's lifetime
    val heartbeat = IngestPipeline.heartbeatQuery(spark, target, profile.heartbeatTrigger)
    val reload = ConfigReload.watch(new File(configDir))(() => launch())
    println(s"[child] incarnation $incarnation (${Soak.Pipeline}/${Soak.Profile}) started")

    val stopFile = new File(ckptRoot, "STOP") // the supervisor's drain request
    while (!stopFile.exists()) Thread.sleep(500)
    println("[child] stop requested; draining")
    val drain = new Thread(() => {
      try Option(handleRef.get()).foreach(_.processAllAvailable()) catch { case _: Exception => () }
    }, "child-drain")
    drain.setDaemon(true); drain.start(); drain.join(120000)
    println(s"[child] drain ${if (drain.isAlive) "TIMED OUT" else "complete"}; stopping")
    reload.close()
    Option(handleRef.get()).foreach(_.stop())
    Option(watchdogRef.get()).foreach(_.stop())
    heartbeat.stop()
    spark.stop()
    sys.exit(0)
  }
}
