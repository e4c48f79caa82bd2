package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.jdk.CollectionConverters._
import scala.jdk.OptionConverters._

/** Executor-death resilience audit (r11 verdict #3) — the missing third
  * leg of the trust triangle: ClusterParity proves multi-JVM correctness
  * on the HAPPY path, Soak proves whole-pipeline death + checkpoint
  * resume, but nothing yet proved the middle case a real cluster hits
  * weekly — ONE executor JVM dies (OOM-killer, preemption, hardware) and
  * the DRIVER survives. That path exercises machinery the other two
  * cannot: task retry on the surviving executor, shuffle-fetch failure →
  * stage re-attempt → lost map-output recompute, cached-block loss →
  * lineage recompute (q86's persisted doc aggregate), RDD-checkpoint
  * recovery mid-iteration (q73's CC rounds), and for streaming the
  * state-store reload from the checkpoint onto a replacement executor
  * plus idempotent re-upsert of the killed task's half-committed JDBC
  * batch.
  *
  * Method: under `local-cluster[2,16,4096]` (real executor JVM processes,
  * found as CoarseGrainedExecutorBackend descendants of this JVM), each
  * scenario runs once undisturbed and once with `kill -9` of one executor
  * at a random instant inside the measured undisturbed wall. The
  * standalone Worker relaunches the executor; Spark's retry machinery
  * must deliver EXACTLY the same canonical result hash (rounded-double
  * contract, same as ClusterParity — merge-order drift across a stage
  * re-attempt is expected and allowed; value drift is not). A kill that
  * lands after the query already finished proves nothing, so each batch
  * scenario re-arms with a smaller delay fraction until the kill is
  * observed in flight (bounded attempts, attempt count in the artifact).
  *
  * Streaming: the ClusterParity pipeline scenario (gates → dedup → scale
  * → liveness FMGWS → executor-side keyed JDBC upsert into ephemeral
  * Postgres over TCP), volume-widened so the kill lands inside an active
  * micro-batch, with a reliable checkpoint dir. Exactly-once at the sink
  * must hold THROUGH the executor death: the final modvalues table must
  * be row-identical to the undisturbed run's.
  *
  * Artifact: RESILIENCE_r12.json; non-zero exit on any hash mismatch or
  * any scenario whose kill never landed in flight.
  */
object Resilience {
  import ClusterParity.{session, signature, ResultSig}

  /** Executor JVMs by /proc scan — NOT ProcessHandle.info().commandLine():
    * the JDK returns Optional.empty for command lines past an internal
    * size cap, and an executor launch command (the full dependency
    * classpath) blows well past it, so descendants-based discovery finds
    * nothing (measured: the r12 first run's killer never fired).
    */
  private def executorHandles(): Seq[ProcessHandle] = {
    val procDir = new java.io.File("/proc")
    procDir.listFiles((_: java.io.File, n: String) => n.forall(_.isDigit)).toSeq.flatMap { f =>
      try {
        val cmd = new String(java.nio.file.Files.readAllBytes(
          java.nio.file.Paths.get(s"/proc/${f.getName}/cmdline")), "UTF-8")
        if (cmd.contains("CoarseGrainedExecutorBackend"))
          ProcessHandle.of(f.getName.toLong).asScala
        else None
      } catch { case _: Exception => None }
    }
  }

  /** Block until `n` executors are registered (relaunch after a kill). */
  private def awaitExecutors(spark: SparkSession, n: Int, timeoutSec: Int = 120): Unit = {
    val deadline = System.nanoTime() + timeoutSec * 1000000000L
    // +1: getExecutorInfos includes the driver
    while (spark.sparkContext.statusTracker.getExecutorInfos.length < n + 1) {
      require(System.nanoTime() < deadline, s"executors never re-registered (want $n)")
      Thread.sleep(250)
    }
  }

  private final case class KillReport(pid: Long, delaySec: Double, inFlight: Boolean)

  /** Arm a killer thread: after `delaySec`, SIGKILL one executor picked at
    * random (unless `done` already flipped). Returns a () => KillReport to
    * join after the scenario completes.
    */
  private def armKiller(delaySec: Double, done: () => Boolean,
                        rng: scala.util.Random): () => KillReport = {
    @volatile var report = KillReport(-1L, delaySec, inFlight = false)
    val t = new Thread(() => {
      Thread.sleep((delaySec * 1000).toLong)
      val ex = executorHandles()
      if (ex.nonEmpty && !done()) {
        val victim = ex(rng.nextInt(ex.length))
        val pid = victim.pid()
        victim.destroyForcibly()
        // in-flight iff the scenario had not completed when the kill fired
        report = KillReport(pid, delaySec, inFlight = !done())
        System.err.println(f"[resilience] killed executor pid=$pid at +$delaySec%.2f s")
      }
    })
    t.setDaemon(true); t.start()
    () => { t.join(30000); report }
  }

  // ---- batch scenarios ----

  private final case class BatchResult(
      name: String, undisturbed: ResultSig, disturbed: ResultSig,
      wallUndisturbed: Double, wallDisturbed: Double,
      kill: KillReport, attempts: Int) {
    def equal: Boolean =
      undisturbed.roundedHash == disturbed.roundedHash &&
        undisturbed.rows == disturbed.rows
    def exactEqual: Boolean = undisturbed.exactHash == disturbed.exactHash
    def ok: Boolean = equal && kill.inFlight
  }

  private def timedSig(df: => DataFrame): (ResultSig, Double) = {
    val t0 = System.nanoTime()
    val s = signature(df)
    (s, (System.nanoTime() - t0) / 1e9)
  }

  private def batchScenario(spark: SparkSession, name: String,
                            fn: (SparkSession, String) => DataFrame, sfDir: String,
                            rng: scala.util.Random): BatchResult = {
    spark.catalog.clearCache()
    val (undisturbed, wall0) = timedSig(fn(spark, sfDir))
    // re-arm with a shrinking delay until the kill demonstrably landed
    // while the query was still running; a cache-warm disturbed run can
    // finish well under wall0, hence the decay
    var attempt = 0
    var result: BatchResult = null
    var frac = 0.45
    while (result == null && attempt < 5) {
      attempt += 1
      spark.catalog.clearCache()
      awaitExecutors(spark, 2)
      @volatile var finished = false
      val join = armKiller(math.max(0.15, frac * wall0), () => finished, rng)
      val (disturbed, wall1) = timedSig(fn(spark, sfDir))
      finished = true
      val kill = join()
      if (kill.inFlight || attempt == 5)
        result = BatchResult(name, undisturbed, disturbed, wall0, wall1, kill, attempt)
      else frac *= 0.5
    }
    awaitExecutors(spark, 2)
    result
  }

  // ---- streaming scenario ----

  /** The ClusterParity pipeline flow, volume-widened (every device also
    * carries a burst of pre-gate filler so a micro-batch takes long
    * enough to kill inside) and checkpointed. Returns the final modvalues
    * rows; `killDelaySec` arms the killer right after the heavy batch is
    * queued.
    */
  private def streamingScenario(spark: SparkSession, killDelaySec: Option[Double],
                                rng: scala.util.Random): (Seq[String], KillReport) = {
    import spark.implicits._
    import graft.streaming._
    Harness.withModvalues("resil") { (connect, target) =>
      val ckpt = java.nio.file.Files.createTempDirectory("resil-ckpt").toString
      implicit val sqlCtx = spark.sqlContext
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[MeasureEvent]
      val handle = IngestPipeline.start(input.toDF(), target, slope = 2.0, offset = 1.0,
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"),
        checkpointDir = Some(ckpt))
      var kill = KillReport(-1L, 0.0, inFlight = false)
      try {
        def ts(sec: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 00:00:$sec%02d")
        val devices = 0 until 120
        // heavy batch: per device, the dup/bad-status script PLUS a
        // same-key burst (all reduced away by last-value-per-key, but all
        // must cross the gates + dedup + state machinery)
        val batch1 = devices.flatMap { d =>
          val dev = f"dev-$d%03d"
          val script = Seq(
            MeasureEvent(dev, "temp", d.toDouble, ts(1), status_ok = true),
            MeasureEvent(dev, "temp", d.toDouble, ts(1), status_ok = true), // dup → T8
            MeasureEvent(dev, "rpm", d * 0.5, ts(2), status_ok = d % 5 != 0))
          // burst value is a pure function of its ts slot: many events tie
          // on event_ts, and the keyed reduction's tie-pick must not be
          // able to surface different VALUES in the two incarnations
          val burst = (0 until 400).map { i =>
            MeasureEvent(dev, "burst", (d * 1000 + (3 + i % 4)).toDouble,
              ts(3 + i % 4), status_ok = true)
          }
          script ++ burst
        }
        input.addData(batch1: _*)
        val join = killDelaySec.map { d =>
          armKiller(d, () => false, rng) // streaming: in-flight by construction (checked below)
        }
        handle.processAllAvailable()
        join.foreach { j =>
          kill = j()
          require(kill.pid > 0, "streaming killer never fired")
        }
        val batch2 = devices.map { d =>
          MeasureEvent(f"dev-$d%03d", "temp", d + 100.0, ts(9), status_ok = true)
        }
        input.addData(batch2: _*)
        handle.processAllAvailable()
      } finally handle.stop()
      val rows = Harness.readModvalues(connect).map(r => Seq(
        r.device, r.measure_name, r.tag_value.toString, r.measure_value.toString,
        r.last_updated).mkString("\u001F"))
      (rows, kill)
    }
  }

  // ---- main ----

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val rng = new scala.util.Random()
    val defs = SparkEntry.queries
    // q86: heavy shuffle + a persisted mid-pipeline aggregate (cached-
    // block loss); q73: iterative CC (RDD checkpoint + per-round joins)
    val batchNames = if (args.nonEmpty) args.toSeq
                     else Seq("q86_containment", "q73_neardup_clusters")

    val spark = session("local-cluster[2,16,4096]")
    val (batchResults, streamOut) =
      try {
        awaitExecutors(spark, 2)
        val br = batchNames.map(n => batchScenario(spark, n, defs(n), sfDir, rng))
        // streaming: undisturbed first, then the killed run (fresh pg +
        // fresh checkpoint each — independent incarnations)
        val (calm, _) = streamingScenario(spark, None, rng)
        awaitExecutors(spark, 2)
        val mid = streamingScenario(spark, Some(1.0), rng)
        (br, Some((calm, mid._1, mid._2)))
      } finally spark.stop()

    val (calmRows, killedRows, streamKill) = streamOut.get
    val streamEqual = calmRows == killedRows
    val failures =
      batchResults.filterNot(_.ok).map(b =>
        if (!b.equal) s"${b.name}: hash mismatch"
        else s"${b.name}: kill never landed in flight") ++
        (if (!streamEqual) Seq("streaming: final table mismatch") else Nil) ++
        (if (streamKill.pid <= 0) Seq("streaming: killer never fired") else Nil)

    val bJson = batchResults.map { b =>
      s""""${b.name}":{"rows":${b.undisturbed.rows},"rows_disturbed":${b.disturbed.rows},""" +
        s""""hash":"${b.undisturbed.roundedHash}","hash_disturbed":"${b.disturbed.roundedHash}",""" +
        s""""equal":${b.equal},"exact_equal":${b.exactEqual},""" +
        f""""wall_undisturbed":${b.wallUndisturbed}%.2f,"wall_disturbed":${b.wallDisturbed}%.2f,""" +
        f""""kill_delay_sec":${b.kill.delaySec}%.2f,"killed_pid":${b.kill.pid},""" +
        s""""killed_in_flight":${b.kill.inFlight},"attempts":${b.attempts}}"""
    }.mkString("{", ",", "}")
    val json =
      s"""{"metric":"resilience","commit":"${Harness.gitTree()}",""" +
        s""""master":"local-cluster[2,16,4096]","batch":$bJson,""" +
        s""""streaming":{"rows":${calmRows.size},"rows_disturbed":${killedRows.size},""" +
        s""""equal":$streamEqual,"killed_pid":${streamKill.pid},""" +
        f""""kill_delay_sec":${streamKill.delaySec}%.2f},""" +
        s""""failures":${failures.map("\"" + _ + "\"").mkString("[", ",", "]")},"sf":"$sfDir"}"""
    println(json)
    val outPath = sys.env.getOrElse("GRAFT_RESILIENCE_OUT", "RESILIENCE_r13.json")
    java.nio.file.Files.write(java.nio.file.Paths.get(outPath),
      (json + "\n").getBytes("UTF-8"))
    if (failures.nonEmpty) {
      System.err.println(s"[resilience] FAILURES: $failures")
      sys.exit(1)
    }
  }
}
