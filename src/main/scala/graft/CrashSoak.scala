package graft

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** Hard-crash recovery soak (r10 verdict #2): both prior soaks exercise
  * GRACEFUL ConfigReload relaunches, so the exactly-once claim
  * (replayable SeqOffset + idempotent keyed upsert, SURVEY §7.4) had
  * never been tested across a process DEATH. This main is a supervisor
  * that owns everything a crash must not destroy —
  *
  *   - the ephemeral Postgres (the user-visible modvalues table)
  *   - the framed-socket feed server + its sim clock (pure `at(i)`,
  *     replayable from any offset)
  *   - the streaming CHECKPOINT directory
  *
  * — and runs the Spark pipeline in a CHILD JVM
  * ([[CrashSoakChild]]: socket source → gates → dedup → value +
  * liveness paths → keyed JDBC upserts, checkpointed, RocksDB state
  * store). At random instants the supervisor `kill -9`s the child
  * (Process.destroyForcibly — no shutdown hooks, no stop(), mid-batch
  * with arbitrary in-flight JDBC transactions) and relaunches it against
  * the SAME checkpoint. The final table must still equal the feed's
  * last-good-value oracle exactly: committed-epoch resume re-reads only
  * uncommitted offsets, and the idempotent upsert absorbs whatever the
  * killed incarnation had half-delivered.
  *
  * Replay accounting (artifact field `replay_accounting`): `delivered`
  * counts every row entering the value sink across ALL incarnations, so
  * it exceeds the per-key survivors and can exceed or trail `offered`
  * (= feed.latest()): a kill replays the uncommitted tail (inflation),
  * while the T6 bounded queue DiscardOldest-truncates any backfill gap
  * older than `queueCapacity` ticks per item (deflation). Neither
  * affects final-state exactness — newest-value-wins per key — which is
  * why the soak's contract is the FINAL TABLE, not the row count.
  */
object CrashSoak {

  private final case class Ev(wallS: Double, event: String)

  def main(args: Array[String]): Unit = {
    val durationS = sys.env.getOrElse("SPARK_GRAFT_SOAK_SECONDS", "420").toInt
    val outPath = sys.env.getOrElse("SPARK_GRAFT_SOAK_OUT", "SOAK_r11_crash.json")
    val nKills = sys.env.getOrElse("SPARK_GRAFT_SOAK_KILLS", "2").toInt
    val nDevices = 50
    val nMeasures = 4
    val ticksPerFire = 4L

    // ---- the database the crash must not lose ----
    val rc = Harness.withModvalues("crash") { (connect, target) =>

      // ---- the feed the crash must not lose ----
      val startMicros = 1704067200000000L
      val feed = new Soak.SoakFeed(nDevices, nMeasures, "c-dev-", startMicros, 250000L, 1L)
      val srv = new graft.sources.FeedTransport.FeedServer(feed)
      @volatile var ticking = true
      val ticker = new Thread(() => {
        while (ticking) { Thread.sleep(250); feed.clockTicks += ticksPerFire }
      }, "crash-ticker")
      ticker.setDaemon(true)

      val ckptDir = java.nio.file.Files.createTempDirectory("crash-ckpt").toFile
      val stopFile = new java.io.File(ckptDir, "STOP")

      // K1/K3 bootstrap, same as Soak
      val allPoints = for (i <- 0 until nDevices; m <- 0 until nMeasures)
        yield (s"c-dev-$i", s"m$m")
      graft.streaming.CurrentValuesSink.seedAndReset(
        allPoints, "1970-01-01T00:00:00.000000", target)

      // ---- child process management ----
      val timeline = new java.util.concurrent.ConcurrentLinkedQueue[Ev]()
      val t0 = System.nanoTime()
      def wallS = (System.nanoTime() - t0) / 1e9
      def mark(e: String): Unit = {
        timeline.add(Ev(wallS, e)); println(f"[crash-soak] $wallS%6.1f s  $e")
      }
      // cumulative delivered per incarnation, last line wins; summed at
      // end. TrieMap, not mutable.Map: after a kill the dead child's pump
      // thread can still be draining buffered stdout while the next
      // incarnation's pump writes (r11 ADVICE — concurrent writers).
      val deliveredPerInc = scala.collection.concurrent.TrieMap.empty[Int, Long]
      val childExits = mutable.ArrayBuffer.empty[(Int, Int)] // (incarnation, exit code)

      val javaBin = new java.io.File(
        new java.io.File(System.getProperty("java.home"), "bin"), "java").getAbsolutePath

      def spawn(incarnation: Int): Process = {
        val cmd = (Seq(javaBin) ++ Harness.AddOpens ++ Seq(
          "-Xmx6g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
          "-cp", System.getProperty("java.class.path"),
          "graft.CrashSoakChild",
          srv.boundPort.toString, connect.port.toString,
          ckptDir.getAbsolutePath, stopFile.getAbsolutePath,
          nDevices.toString, nMeasures.toString, incarnation.toString))
        val pb = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
        val p = pb.start()
        mark(s"child $incarnation spawned (pid ${p.pid()})")
        val pump = new Thread(() => {
          val br = new java.io.BufferedReader(
            new java.io.InputStreamReader(p.getInputStream))
          var line = br.readLine()
          while (line != null) {
            if (line.startsWith("[child] delivered=")) {
              deliveredPerInc(incarnation) =
                line.stripPrefix("[child] delivered=").trim.toLong
            } else if (line.startsWith("[child]")) {
              mark(s"inc$incarnation ${line.stripPrefix("[child]").trim.take(160)}")
            }
            line = br.readLine()
          }
        }, s"child-$incarnation-pump")
        pump.setDaemon(true); pump.start()
        p
      }

      ticker.start()
      var incarnation = 0
      var child = spawn(incarnation)

      // ---- kill script: nKills forced deaths at random instants ----
      val rnd = new scala.util.Random(System.nanoTime())
      // kills spread over (20%, 75%) of the run, jittered: each window is
      // [lo, lo+span/nKills), so kills never collide with final drain
      val killAts = (0 until nKills).map { i =>
        val lo = 0.20 + 0.55 * i / nKills
        durationS * (lo + rnd.nextDouble() * 0.55 / nKills)
      }
      killAts.foreach { atS =>
        val sleepMs = ((atS - wallS) * 1000).toLong
        if (sleepMs > 0) Thread.sleep(sleepMs)
        mark(f"kill -9 child $incarnation at ${wallS}%.1f s " +
          s"(delivered so far: ${deliveredPerInc.getOrElse(incarnation, 0L)})")
        // record the REAL exit code: a child that died on its own before
        // the scheduled kill (OOM, source failure) must not be mislabeled
        // as kill -9 (137) in the artifact — destroyForcibly is a no-op
        // on an already-dead process and waitFor returns its true status
        val alreadyDead = !child.isAlive
        child.destroyForcibly()
        child.waitFor()
        if (alreadyDead)
          mark(s"child $incarnation was ALREADY DEAD (exit ${child.exitValue()}) before the kill")
        childExits += incarnation -> child.exitValue()
        incarnation += 1
        child = spawn(incarnation) // same checkpoint dir: resume, not restart
      }

      // ---- end of script: stop the clock, ask the child to drain ----
      val endSleepMs = ((durationS - wallS) * 1000).toLong
      if (endSleepMs > 0) Thread.sleep(endSleepMs)
      ticking = false
      Thread.sleep(1500)
      val offered = feed.latest()
      mark(s"script complete; clock stopped at ${feed.clockTicks} ticks; requesting drain")
      java.nio.file.Files.write(stopFile.toPath, "stop".getBytes)
      val graceful = child.waitFor(180, java.util.concurrent.TimeUnit.SECONDS)
      if (!graceful) { mark("child drain TIMED OUT at 180 s — killing"); child.destroyForcibly(); child.waitFor() }
      childExits += incarnation -> child.exitValue()
      mark(s"child $incarnation exited ${child.exitValue()}")

      // ---- final-state oracle: last GOOD value per key from pure at(i) ----
      val perTick = nDevices.toLong * nMeasures
      val expected = (for (d <- 0 until nDevices; m <- 0 until nMeasures) yield (d, m))
        .flatMap { case (d, m) =>
          val lastTick = feed.clockTicks - 1
          (lastTick to math.max(0L, lastTick - 200L) by -1L).iterator
            .map(t => feed.at(t * perTick + d.toLong * nMeasures + m))
            .collectFirst { case (dev, mm, v, _, true) => ((dev, mm), v) }
        }.toMap
      val actual: Map[(String, String), Double] = {
        val c = connect()
        try {
          val rs = c.createStatement().executeQuery(
            "SELECT device, measure_name, tag_value FROM modvalues WHERE measure_name <> 'myPV_online'")
          val m = mutable.Map.empty[(String, String), Double]
          while (rs.next()) m((rs.getString(1), rs.getString(2))) = rs.getDouble(3)
          m.toMap
        } finally c.close()
      }
      val mismatches = expected.toSeq.flatMap { case (k, exp) =>
        actual.get(k) match {
          case Some(act) if math.abs(act - exp) < 1e-3 => None // REAL column
          case other => Some(s"${k._1}/${k._2}: expected $exp got $other")
        }
      }
      val finalOnline: Int = {
        val c = connect()
        try {
          val rs = c.createStatement().executeQuery(
            "SELECT count(*) FROM modvalues WHERE measure_name = 'myPV_online' AND measure_value = 1")
          rs.next(); rs.getInt(1)
        } finally c.close()
      }
      srv.close()

      val delivered = deliveredPerInc.values.sum
      val pass = mismatches.isEmpty && killAts.size >= 1 &&
        childExits.last._2 == 0 && finalOnline == nDevices
      def esc(s: String) = s.replaceAll("[\\x00-\\x1f\"\\\\]", " ")
      import scala.jdk.CollectionConverters._
      val tJson = timeline.asScala
        .map(e => f"""{"t":${e.wallS}%.1f,"event":"${esc(e.event)}"}""")
        .mkString("[", ",", "]")
      val exitsJson = childExits
        .map { case (i, c) => s"""{"incarnation":$i,"exit":$c}""" }.mkString("[", ",", "]")
      val json =
        f"""{"metric":"crash_soak","duration_sec":$durationS,"kills":${killAts.size},"incarnations":${incarnation + 1},"child_exits":$exitsJson,"offered":$offered,"delivered":$delivered,"delivered_vs_offered":${delivered.toDouble / offered}%.3f,"replay_accounting":"delivered sums the value-sink input across all incarnations: a kill -9 replays the killed incarnation's uncommitted tail from the checkpointed offset (inflation over offered), while reconnect backfill older than the T6 queueCapacity (1000 ticks/item) is DiscardOldest-truncated (deflation); final-state exactness is the contract, row counts are diagnostics","final_state_keys":${expected.size},"final_state_mismatches":${mismatches.size},"final_online":$finalOnline,"zero_loss_final_state":${mismatches.isEmpty},"state_store":"rocksdb","pipeline":"${sys.env.getOrElse("SPARK_GRAFT_SOAK_PIPELINE", "split")}","profile":"${sys.env.getOrElse("SPARK_GRAFT_SOAK_PROFILE", "default")}","pass":$pass,"timeline":$tJson}"""
      java.nio.file.Files.write(java.nio.file.Paths.get(outPath), (json + "\n").getBytes)
      println(json)
      if (mismatches.nonEmpty) {
        println(s"[crash-soak] ${mismatches.size} mismatches, first 10:")
        mismatches.take(10).foreach(m => println(s"[crash-soak]   $m"))
      }
      if (pass) 0 else 1
    }
    if (rc != 0) sys.exit(rc)
  }
}

/** The disposable half of [[CrashSoak]]: the whole Spark pipeline in one
  * child JVM, killed -9 at random and resumed from the shared checkpoint.
  * State store is RocksDB (the production provider — its checkpointed
  * SST/changelog files are exactly what must survive the kill), wired the
  * way RocksDbStateSpec pins.
  */
object CrashSoakChild {
  def main(args: Array[String]): Unit = {
    val Array(feedPort, pgPort, ckptDir, stopPath, nDevices, nMeasures, incarnation) = args
    val spark = Harness.session("local[8]", 8, logLevel = "ERROR", extra = Map(
      "spark.app.name" -> s"graft-crash-child-$incarnation",
      "spark.sql.streaming.stateStore.providerClass" ->
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

    val target = new graft.streaming.JdbcUpsert.Target(
      Harness.PgConnect(pgPort.toInt, "crash"), dialect = graft.streaming.JdbcUpsert.Postgres)

    val delivered = new AtomicLong(0L)
    spark.streams.addListener(new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        e.exception.foreach(m => println(s"[child] QUERY DIED: ${m.take(300)}"))
      override def onQueryProgress(e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit =
        // value-path admission: the split mode's value query, or the one
        // fused query (which subsumes it)
        if (e.progress.name == "graft-values" || e.progress.name == "graft-fused") {
          val d = delivered.addAndGet(e.progress.numInputRows)
          println(s"[child] delivered=$d")
        }
    })

    val raw = spark.readStream
      .format(classOf[graft.sources.MeasureSourceProvider].getName)
      .option("nDevices", nDevices.toInt).option("nMeasures", nMeasures.toInt)
      .option("numPartitions", 2)
      .option("feedHost", "127.0.0.1").option("feedPort", feedPort.toInt)
      .option("chunkRows", 65536L)
      .option("queueCapacity", 1000L)
      .load()
    // SPARK_GRAFT_SOAK_PIPELINE=fused runs the single-query FusedPipeline
    // (inherited from the supervisor's environment): exactly-once across
    // kill -9 must hold in BOTH contracts, not just the split default
    val pipelineMode = sys.env.getOrElse("SPARK_GRAFT_SOAK_PIPELINE", "split")
    // SPARK_GRAFT_SOAK_PROFILE=fresh soaks the ReferenceFreshness preset
    // (10 s watermark — the r13 supported freshness mode must survive
    // kill -9 exactly like the default, not just pass a latency bench);
    // the soak's 1 s trigger is kept in either profile (kills must land
    // mid-batch, and the default's 5 s trigger just slows the feed).
    val profileName = sys.env.getOrElse("SPARK_GRAFT_SOAK_PROFILE", "default")
    val profile = graft.streaming.IngestProfile.byName(profileName)
      .copy(trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("1 second"))
    val handle =
      if (pipelineMode == "fused")
        graft.streaming.FusedPipeline.start(raw, target, 1.0, 0.0,
          profile, Some(ckptDir))
      else
        graft.streaming.IngestPipeline.start(raw, target, 1.0, 0.0,
          profile, Some(ckptDir))
    println(s"[child] incarnation $incarnation ($pipelineMode/$profileName) started (checkpoint $ckptDir)")

    val stopFile = new java.io.File(stopPath)
    while (!stopFile.exists()) Thread.sleep(500)
    println("[child] stop requested; draining")
    val drain = new Thread(() => {
      try handle.processAllAvailable() catch { case _: Exception => () }
    }, "child-drain")
    drain.setDaemon(true); drain.start(); drain.join(120000)
    println(s"[child] drain ${if (drain.isAlive) "TIMED OUT" else "complete"}; stopping")
    handle.stop()
    spark.stop()
    println(s"[child] graceful exit, delivered=${delivered.get()}")
    sys.exit(0)
  }
}
