package perfbench

import java.nio.file.Path
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import graft.control.{PgEphemeral, PgWire}
import graft.sources.MeasureSourceProvider
import graft.streaming.{CurrentValuesSink, IngestPipeline, IngestProfile, JdbcUpsert}

/** `ingest-hot` and `ingest-fleet`: the generator's feed → the DSv2 OPC UA
  * socket source → `IngestPipeline.start` (split pipeline, checkpointed) →
  * `JdbcUpsert.Target` on an ephemeral Postgres reached through `PgWire`.
  *
  * Timeline: set-up (Spark, Postgres, schema, feed, pipeline, warm-up
  * batches) → timed window of `--seconds` → freeze the feed and let both
  * queries commit through the frozen end → stop → check the table and the
  * event accounting against [[Oracle]].
  */
object IngestRun {

  val Values = "graft-values"
  val Live = "graft-liveness"
  /** Per-item queue of the source (T6 QueueSize, discard-oldest): the
    * source's default, which both workloads run with. The hot feed fills it
    * every batch; the fleet never does.
    */
  val QueueCapacity = 10L
  private val Db = "bench"

  private final case class Batch(p: StreamingQueryProgress) {
    val startMs: Long = java.time.Instant.parse(p.timestamp).toEpochMilli
    def dur(k: String): Long = Option(p.durationMs.get(k)).map(_.longValue).getOrElse(0L)
    val endMs: Long = startMs + dur("triggerExecution")
    private def off(s: String): Long = Option(s).filter(_ != "null").map(_.trim.toLong).getOrElse(0L)
    val src = p.sources.headOption
    val lo: Long = src.map(s => off(s.startOffset)).getOrElse(0L)
    val hi: Long = src.map(s => off(s.endOffset)).getOrElse(lo)
    val latest: Option[Long] = src.flatMap(s => Option(s.latestOffset)).map(off)
    def rows: Long = p.numInputRows
    def op(pred: String => Boolean) = p.stateOperators.filter(o => pred(o.operatorName))
    def within(w0: Long, w1: Long): Boolean = startMs >= w0 && endMs <= w1
  }

  def run(a: Harness.Args): Map[String, Any] = {
    val hot = a.workload == "ingest-hot"
    val setupMarks = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    def mark(k: String): Unit = setupMarks(k) = (System.currentTimeMillis() - a.launchMs) / 1000.0
    val spark = Harness.session(a)
    mark("spark_session")
    val progress = new ProgressLog
    spark.streams.addListener(progress)
    val tasks = new TaskLog
    val execs = new ExecLog
    if (a.traced) { spark.sparkContext.addSparkListener(tasks); spark.listenerManager.register(execs) }

    val pg = PgEphemeral.start() match {
      case Right(s) => s
      case Left(reason) => throw new IllegalStateException(s"Postgres unavailable: $reason")
    }
    try {
      pg.createDatabase(Db)
      val connect = SinkProbe.connector(pg.port, Db, a.traced)
      JdbcUpsert.bootstrap(connect)
      val target = new SinkProbe(new JdbcUpsert.Target(connect), a.traced)
      mark("postgres")
      runPipeline(a, spark, pg, target, progress, tasks, execs, hot, setupMarks, mark)
    } finally {
      pg.stop()
      spark.stop()
    }
  }

  private def runPipeline(a: Harness.Args, spark: SparkSession, pg: PgEphemeral.Server,
                          target: SinkProbe, progress: ProgressLog,
                          tasks: TaskLog, execs: ExecLog, hot: Boolean,
                          setupMarks: scala.collection.mutable.LinkedHashMap[String, Double],
                          mark: String => Unit): Map[String, Any] = {
    val heartbeat =
      if (hot) None
      else {
        val keys = for (d <- 0 until FleetFeed.Devices; m <- 0 until 10) yield (s"dev-$d", s"m$m")
        CurrentValuesSink.seedAndReset(keys, Oracle.lastUpdated(Clock.nowMicros()), target)
        mark("seed_and_reset")
        Some(IngestPipeline.heartbeatQuery(spark, target, IngestProfile.Default.heartbeatTrigger))
      }
    control(a.runDir, Map("start" -> 1))
    val feedInfo = waitFor(a.runDir.resolve("feed.json"), 60000L)
    val port = Json.number(feedInfo, "port").get.toInt
    val feed = BenchFeed(a.workload, a.seed, Json.number(feedInfo, "t0_us").get.toLong)
    mark("feed")
    val cap = QueueCapacity * feed.items
    val reader = spark.readStream.format(classOf[MeasureSourceProvider].getName)
      .option("nDevices", feed.devices).option("nMeasures", feed.measures)
      .option("numPartitions", a.cpus)
      .option("feedHost", "127.0.0.1").option("feedPort", port)
    val secured =
      if (!hot) reader
      else reader.option("secMode", "signencrypt")
        .option("secKeystore", a.runDir.resolve("client.p12").toString)
        .option("secKeystorePass", Generator.KeystorePass).option("secAlias", Generator.Alias)
        .option("secServerCert", a.runDir.resolve("server.der").toString)
    // the known source defect (see perfbench/README.md): rows past the
    // per-trigger cap are committed unread — the accounting check must see it
    val raw = (if (a.fault == "lost-event") secured.option("maxRowsPerTrigger", feed.items / 4L)
               else secured).load()
    val profile = if (hot) IngestProfile.Default.copy(trigger = Trigger.ProcessingTime("0 seconds"))
                  else IngestProfile.Default
    val handle = IngestPipeline.start(raw, target, 1.0, 0.0, profile,
      Some(a.runDir.resolve("checkpoints").toString))
    try {
      // warm-up: both queries past their first batches with data, so codegen,
      // state stores and connection paths are set up. The fleet also waits
      // until both queries keep the 5 s cadence (processing-time triggers
      // fire at multiples of the interval; a batch that overran starts late),
      // so the backlog left from the set-up has been worked off
      val interval = 5000L
      val warmBatches = if (hot) 3 else 1
      val deadline = System.currentTimeMillis() + 90000L
      def data(q: String) = progress.batches(q).filter(_.numInputRows > 0)
      def warm(q: String) = data(q).size >= warmBatches &&
        (hot || data(q).lastOption.exists(p => Batch(p).startMs % interval < 250L))
      while (!(warm(Values) && warm(Live)) && System.currentTimeMillis() < deadline) {
        requireAlive(handle); Thread.sleep(20)
      }
      requireAlive(handle)
      if (!(warm(Values) && warm(Live))) throw new IllegalStateException("warm-up did not finish in 90 s")
      mark("warm_up")
      // the fleet's window starts and ends on the trigger grid, so it holds
      // `seconds / 5` batches, each with a full period of waits, and the
      // batch that fires at its end reads the feed through the freeze
      val grid = if (hot) 0L else {
        val now = System.currentTimeMillis()
        Thread.sleep(interval - now % interval)
        now - now % interval + interval
      }
      val pg0 = pgStats(pg)
      val cpu0 = Cpu.snap(a.genPid)
      val w0 = if (hot) System.currentTimeMillis() else grid
      // set-up ends at the first timed event, except that the fleet's ends
      // at its first commit (both queries' first batch with data): the rest
      // of its warm-up waits for the 5 s trigger cadence, whose length
      // depends on the clock's phase at start, not on the program
      val firstCommitMs = Seq(Values, Live).map(q => Batch(data(q).head).endMs).max
      val setupS = ((if (hot) w0 else firstCommitMs) - a.launchMs) / 1000.0
      mark("window")
      // the feed stops growing at the window's end and (fleet) silences a
      // tenth of the devices half-way through
      val plannedEnd = w0 + a.seconds * 1000L
      control(a.runDir, Map("freeze_at_us" -> plannedEnd * 1000L) ++
        (if (hot) Map.empty else Map("silence_at_us" -> (w0 + a.seconds * 500L) * 1000L)))
      Thread.sleep(math.max(0L, plannedEnd - System.currentTimeMillis()))
      val w1 = System.currentTimeMillis()
      val cpu1 = Cpu.snap(a.genPid)
      val pg1 = pgStats(pg)
      heartbeat.foreach(_.stop())

      // drain: both queries commit through the frozen end
      var state = ""
      val stateDeadline = System.currentTimeMillis() + 10000L
      while ({ state = Json.read(a.runDir.resolve("feed_state.json")).getOrElse("")
               Json.number(state, "freeze_at").forall(_ >= Long.MaxValue.toDouble) }) {
        if (System.currentTimeMillis() > stateDeadline) throw new IllegalStateException("the generator did not freeze")
        Thread.sleep(20)
      }
      val frozen = Json.number(state, "freeze_at").get.toLong
      feed.freezeAt = frozen
      feed match {
        case f: FleetFeed => f.silencePeriod = Json.number(state, "silence_period").get.toLong
        case _ => ()
      }
      val drainDeadline = System.currentTimeMillis() + 60000L
      def committed(q: String) = progress.batches(q).lastOption.map(b => Batch(b).hi).getOrElse(0L)
      while ((committed(Values) < frozen || committed(Live) < frozen) &&
             System.currentTimeMillis() < drainDeadline) {
        requireAlive(handle); Thread.sleep(20)
      }
      mark("drained")
      handle.stop()
      mark("stopped")
      val liveHeap = Cpu.liveHeapMb()
      val served = Json.number(Json.read(a.runDir.resolve("feed_state.json")).getOrElse(""), "served")
        .getOrElse(0.0)
      if (a.fault == "wrong-row") withConn(pg) { c =>
        c.createStatement().executeUpdate(
          "UPDATE modvalues SET tag_value = tag_value + 1 WHERE (device, measure_name) IN " +
            "(SELECT device, measure_name FROM modvalues WHERE measure_name <> 'myPV_online' LIMIT 1)")
      }
      val wire = if (a.traced) WireBench.run(hot, feed) else Map.empty[String, Double]
      tasks.settle()

      val vb = progress.batches(Values).map(Batch)
      val lb = progress.batches(Live).map(Batch)
      val check = verify(feed, cap, frozen, vb, lb, readTable(pg))
      mark("checked")
      val metrics = endToEnd(a, hot, feed, vb, lb, w0, w1, setupS, liveHeap)
      val layers =
        if (!a.traced) Map.empty[String, Double]
        else perLayer(a, feed, vb, lb, w0, w1, served, tasks, execs, pg0, pg1, wire)
      Map(
        "metrics" -> metrics._1, "named" -> metrics._2, "layers" -> layers,
        "attempted" -> check.attempted, "failed" -> check.failed,
        "failures" -> check.failures.take(20), "accounting" -> check.accounting,
        "setup_marks_s" -> setupMarks, "window_ms" -> Seq(w0, w1), "wire" -> wire,
        "cpu_window" -> Cpu.cores(cpu0, cpu1),
        "feed" -> Map("frozen_at" -> frozen, "served" -> served, "items" -> feed.items,
          "silenced_from" -> feed.silencedFrom, "queue_cap_rows" -> cap),
        "batches" -> (vb.map(batchRow(Values, _)) ++ lb.map(batchRow(Live, _))))
    } finally handle.stop()
  }

  private def requireAlive(h: IngestPipeline.Handle): Unit =
    Seq(h.valueQuery, h.livenessQuery).foreach { q =>
      q.exception.foreach(e => throw new IllegalStateException(s"${q.name} died: ${e.getMessage}", e))
    }

  private def waitFor(p: Path, ms: Long): String = {
    val deadline = System.currentTimeMillis() + ms
    while (!java.nio.file.Files.exists(p)) {
      if (System.currentTimeMillis() > deadline) throw new IllegalStateException(s"no $p after $ms ms")
      Thread.sleep(20)
    }
    Json.read(p).get
  }

  private def control(dir: Path, fields: Map[String, Any]): Unit = Json.write(dir.resolve("control.json"), fields)

  private def withConn[T](pg: PgEphemeral.Server)(f: java.sql.Connection => T): T = {
    val c = PgWire.connect("127.0.0.1", pg.port, "postgres", Db)
    try f(c) finally c.close()
  }

  private def readTable(pg: PgEphemeral.Server): Seq[Oracle.Row] = withConn(pg) { c =>
    val rs = c.createStatement().executeQuery(
      "SELECT device, measure_name, tag_value, measure_value, last_updated FROM modvalues")
    val out = Seq.newBuilder[Oracle.Row]
    while (rs.next())
      out += Oracle.Row(rs.getString(1), rs.getString(2), rs.getDouble(3), rs.getDouble(4), rs.getString(5))
    out.result()
  }

  private def pgStats(pg: PgEphemeral.Server): Map[String, Double] = withConn(pg) { c =>
    val cols = Seq("xact_commit", "xact_rollback", "deadlocks", "tup_updated")
    val rs = c.createStatement().executeQuery(
      s"SELECT ${cols.mkString(", ")} FROM pg_stat_database WHERE datname = '$Db'")
    if (!rs.next()) Map.empty
    else cols.zipWithIndex.map { case (k, i) => k -> rs.getLong(i + 1).toDouble }.toMap
  }

  final case class Check(attempted: Long, failed: Long, failures: Seq[String], accounting: Map[String, Any])

  /** Event accounting per query, dedup accounting, and the final table. */
  private def verify(feed: BenchFeed, cap: Long, frozen: Long, vb: Seq[Batch], lb: Seq[Batch],
                     table: Seq[Oracle.Row]): Check = {
    val failures = Seq.newBuilder[String]
    var unaccounted = 0L
    def ranges(name: String, bs: Seq[Batch]): (Seq[(Long, Long)], Long, Long) = {
      var prevEnd = 0L; var admitted = 0L; var discarded = 0L
      val rs = bs.map { b =>
        if (b.lo != prevEnd) {
          unaccounted += math.abs(b.lo - prevEnd)
          failures += s"$name batch ${b.p.batchId}: starts at ${b.lo}, previous ended at $prevEnd"
        }
        val expect = math.min(b.hi - b.lo, cap)
        if (b.rows != expect) {
          unaccounted += math.abs(expect - b.rows)
          failures += s"$name batch ${b.p.batchId}: offsets [${b.lo}, ${b.hi}) admit $expect rows " +
            s"under the discard-oldest cap, ${b.rows} were read"
        }
        prevEnd = b.hi; admitted += b.rows; discarded += (b.hi - b.lo) - expect
        (b.hi - expect, b.hi)
      }
      if (prevEnd != frozen) {
        unaccounted += math.abs(frozen - prevEnd)
        failures += s"$name committed through $prevEnd, the feed froze at $frozen"
      }
      (rs, admitted, discarded)
    }
    val (vr, vAdmitted, vDiscarded) = ranges(Values, vb)
    val (lr, lAdmitted, lDiscarded) = ranges(Live, lb)

    // a redelivery is dropped when its original (identical content) was admitted
    val origin: Long => Long = feed match { case f: FleetFeed => f.originOf; case _ => identity }
    def injectedPerBatch(rs: Seq[(Long, Long)]): Seq[Long] = {
      def admitted(i: Long) = rs.exists { case (lo, hi) => i >= lo && i < hi }
      rs.map { case (lo, hi) => (lo until hi).count(i => feed.isDuplicate(i) && admitted(origin(i))).toLong }
    }
    def droppedPerBatch(bs: Seq[Batch]): Seq[Long] = bs.map(_.op(_.toLowerCase.contains("dedup"))
      .map(o => Option(o.customMetrics.get("numDroppedDuplicateRows")).map(_.longValue).getOrElse(0L)).sum)
    def injected(rs: Seq[(Long, Long)]): Long = injectedPerBatch(rs).sum
    def dropped(bs: Seq[Batch]): Long = droppedPerBatch(bs).sum
    // Only the liveness query's count is exact: the value sink's
    // `batch.isEmpty` re-runs the first partition of the batch plan, adding
    // that pass's drops to the same metric (see perfbench/README.md); its
    // excess is recorded, not counted as failed.
    val perLive = injectedPerBatch(lr).zip(droppedPerBatch(lb)).zip(lb)
    val (liveWant, liveGot) = (perLive.map(_._1._1).sum, perLive.map(_._1._2).sum)
    val dedupErrs =
      if (liveWant == liveGot) Nil
      else {
        val where = perLive.collect { case ((w, g), b) if w != g => s"batch ${b.p.batchId} [${b.lo}, ${b.hi}): $g vs $w" }
        Seq(s"$Live dedup dropped $liveGot rows, $liveWant redeliveries were injected (${where.take(3).mkString("; ")})" ->
          math.abs(liveWant - liveGot))
      }
    dedupErrs.foreach(e => failures += e._1)

    val livenessWm = lb.lastOption.flatMap(b => Option(b.p.eventTime.get("watermark")))
      .map(w => java.time.Instant.parse(w).toEpochMilli).getOrElse(0L)
    val want = Oracle.expected(feed, vr, lr, livenessWm)
    val wrong = Oracle.mismatches(want, table, SinkLog.heartbeatStamps.asScala.toSet)
    wrong.take(10).foreach(w => failures += s"modvalues $w")
    val keysChecked = want.values.size + want.online.size
    Check(attempted = frozen + keysChecked,
      failed = unaccounted + dedupErrs.map(_._2).sum + wrong.size,
      failures = failures.result() ++ (if (wrong.size > 10) Seq(s"... ${wrong.size - 10} more rows") else Nil),
      accounting = Map("offered" -> frozen, "values_admitted" -> vAdmitted,
        "values_discarded" -> vDiscarded, "liveness_admitted" -> lAdmitted,
        "liveness_discarded" -> lDiscarded, "unaccounted" -> unaccounted,
        "keys_checked" -> keysChecked, "rows_wrong" -> wrong.size,
        "dups_injected_liveness" -> liveWant, "dups_dropped_liveness" -> liveGot,
        "dups_injected_values" -> injected(vr), "dups_metric_values" -> dropped(vb)))
  }

  /** (the `BENCHMARK.json` metrics, the workload's named metrics). */
  private def endToEnd(a: Harness.Args, hot: Boolean, feed: BenchFeed, vb: Seq[Batch], lb: Seq[Batch],
                       w0: Long, w1: Long, setupS: Double,
                       liveHeap: Double): (Map[String, Double], Map[String, Any]) = {
    val rss = Cpu.peakRssMb()
    if (hot) {
      val in = vb.filter(b => b.within(w0, w1) && b.rows > 0)
      val eps = in.map(_.rows).sum / math.max(1e-9, in.map(_.dur("triggerExecution")).sum / 1000.0)
      val batchEps = in.map(b => b.rows * 1000.0 / math.max(1L, b.dur("triggerExecution")))
      // batch latency: every whole batch of either query inside the window
      val durs = (in ++ lb.filter(b => b.within(w0, w1) && b.rows > 0)).map(_.dur("triggerExecution").toDouble)
      (Map("setup_s" -> setupS, "throughput_per_s" -> Stats.median(batchEps),
        "latency_typical_ms" -> Stats.median(durs), "latency_tail_ms" -> Stats.tail(durs),
        "live_heap_mb" -> liveHeap),
        Map("ingest_eps" -> eps, "batches_timed" -> in.size, "batch_latency_samples" -> durs.size,
          "batch_latency_tail_quantile" -> Stats.tailQuantile(durs.size), "setup_s" -> setupS,
          "peak_rss_mb" -> rss))
    } else {
      val rows = SinkLog.valueRows.asScala.toSeq.filter { case (src, _) => src >= w0 * 1000L && src < w1 * 1000L }
      val samples = rows.map { case (src, done) => (done - src) / 1000.0 }
      // the contract latencies are the median over batches of each batch's
      // quantile: a window holds three 5 s batches, and one slow batch would
      // otherwise set the pooled tail
      val perBatch = vb.map(b => rows.collect {
        case (src, done) if done >= b.startMs * 1000L && done <= b.endMs * 1000L => (done - src) / 1000.0
      }).filter(_.nonEmpty)
      // what the pipeline committed in the window, between two commit
      // instants so the 5 s batches do not quantise it: from the end of the
      // last value batch before the window to the end of the last one in it.
      // `delivered` sets those events against what the feed offered between
      // the same instants; a growing backlog lowers it below 1
      val ended = vb.filter(b => b.rows > 0 || b.hi > b.lo)
      val ref = ended.filter(_.endMs <= w0).lastOption
      val in = ended.filter(b => b.endMs > w0 && b.endMs <= w1)
      val (committed, offered, spanS) = (ref, in.lastOption) match {
        case (Some(r), Some(last)) =>
          (in.map(_.rows).sum.toDouble, feed.lengthAt(last.endMs * 1000L) - feed.lengthAt(r.endMs * 1000L),
            (last.endMs - r.endMs) / 1000.0)
        case _ => (Double.NaN, 0L, Double.NaN)
      }
      val delivered = committed / offered
      val committedEps = committed / spanS
      val offline = silencedLatencies(feed)
      (Map("setup_s" -> setupS, "throughput_per_s" -> committedEps,
        "latency_typical_ms" -> Stats.median(perBatch.map(Stats.median)),
        "latency_tail_ms" -> Stats.median(perBatch.map(Stats.percentile(_, 0.99))),
        "live_heap_mb" -> liveHeap),
        Map("delivered_frac" -> delivered, "value_p50_ms" -> Stats.median(samples),
          "value_p99_ms" -> Stats.percentile(samples, 0.99), "value_samples" -> samples.size,
          "value_samples_beyond_p99" -> Stats.beyond(samples.size, 0.99), "value_batches" -> perBatch.size,
          "offline_p50_s" -> Stats.median(offline), "offline_p99_s" -> Stats.percentile(offline, 0.99),
          "offline_samples" -> offline.size, "events_committed" -> committed, "events_offered" -> offered,
          "offline_note" -> (if (offline.nonEmpty) "" else
            "not measured: silence→offline needs the 60 s timeout plus the 60 s watermark; " +
              "run with --seconds 260 or more"),
          "setup_s" -> setupS, "peak_rss_mb" -> rss))
    }
  }

  /** Silenced devices: their last event to the commit of their online = 0 row, seconds. */
  private def silencedLatencies(feed: BenchFeed): Seq[Double] = feed match {
    case f: FleetFeed if f.silencedFrom != Long.MaxValue =>
      SinkLog.offlineAt.asScala.toSeq.filter { case (d, _) => f.isSilenced(d) }.flatMap { case (d, at) =>
        val dev = d.stripPrefix("dev-").toLong
        val lastPoint = (dev + 1) * f.measures - 1
        // the device's last sample: its last point in the period before silence
        val lastUs = f.createdMicros(f.silencePeriod - 1, lastPoint)
        if (at.longValue > lastUs) Some((at.longValue - lastUs) / 1e6) else None
      }
    case _ => Nil
  }

  private def perLayer(a: Harness.Args, feed: BenchFeed, vb: Seq[Batch], lb: Seq[Batch], w0: Long, w1: Long,
                       served: Double, tasks: TaskLog, execs: ExecLog,
                       pg0: Map[String, Double], pg1: Map[String, Double],
                       wire: Map[String, Double]): Map[String, Double] = {
    val vIn = vb.filter(_.within(w0, w1)); val lIn = lb.filter(_.within(w0, w1))
    val both = vIn ++ lIn
    val events = math.max(1L, vIn.map(_.rows).sum).toDouble
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.size
    def sumOp(bs: Seq[Batch], pred: String => Boolean)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      bs.map(_.op(pred).map(f).sum)
    val isDedup = (n: String) => n.toLowerCase.contains("dedup")
    val isFmgws = (n: String) => n.toLowerCase.contains("flatmapgroupswithstate")
    def lastState(bs: Seq[Batch], pred: String => Boolean)(f: org.apache.spark.sql.streaming.StateOperatorProgress => Double) =
      bs.lastOption.map(_.op(pred).map(f).sum).getOrElse(0.0)
    def custom(o: org.apache.spark.sql.streaming.StateOperatorProgress, k: String) =
      Option(o.customMetrics.get(k)).map(_.doubleValue).getOrElse(0.0)
    val windowTasks = tasks.tasks.asScala.toSeq.filter(t => t.endMs >= w0 && t.endMs <= w1)
    val windowExecs = execs.execs.asScala.toSeq.count(e => e.atMs >= w0 && e.atMs <= w1)
    def inWindow(us: Long) = us >= w0 * 1000L && us <= w1 * 1000L
    val calls = SinkLog.callNs.asScala.toSeq.filter(c => inWindow(c._1))
    val sinkRows = calls.map(_._3.toLong).sum
    val conns = SinkLog.connects.asScala.toSeq.filter(c => inWindow(c._1))
    val triggers = both.map(_.dur("triggerExecution").toDouble)
    Map(
      "sources.served_per_admitted" -> served / math.max(1L, vb.map(_.rows).sum),
      "sources.backlog_p95_rows" -> Stats.percentile(vIn.map(b => (feed.lengthAt(b.endMs * 1000L) - b.hi).toDouble), 0.95),
      "sources.discarded_rows" -> vIn.map(b => (b.hi - b.lo - b.rows).toDouble).sum,
      "sources.latest_offset_ms" -> mean(vIn.map(_.dur("latestOffset").toDouble)),
      "sources.wire_encode_MBps" -> wire.getOrElse("encode_MBps", 0.0),
      "sources.wire_decode_MBps" -> wire.getOrElse("decode_MBps", 0.0),
      "streaming.dedup.state_rows" -> (lastState(vIn, isDedup)(_.numRowsTotal.toDouble) +
        lastState(lIn, isDedup)(_.numRowsTotal.toDouble)),
      "streaming.dedup.state_mb" -> (lastState(vIn, isDedup)(_.memoryUsedBytes.toDouble) +
        lastState(lIn, isDedup)(_.memoryUsedBytes.toDouble)) / 1e6,
      "streaming.dedup.dropped_dups" -> sumOp(both, isDedup)(custom(_, "numDroppedDuplicateRows")).sum,
      "streaming.dedup.dropped_late" -> sumOp(both, isDedup)(_.numRowsDroppedByWatermark.toDouble).sum,
      "streaming.dedup.commit_ms" -> mean(sumOp(both, isDedup)(_.commitTimeMs.toDouble)),
      "streaming.liveness.state_rows" -> lastState(lIn, isFmgws)(_.numRowsTotal.toDouble),
      "streaming.liveness.state_mb" -> lastState(lIn, isFmgws)(_.memoryUsedBytes.toDouble) / 1e6,
      "streaming.liveness.timeouts_fired" -> SinkLog.offlineAt.size.toDouble,
      "streaming.liveness.update_ms" -> mean(sumOp(lIn, isFmgws)(_.allUpdatesTimeMs.toDouble)),
      "streaming.batch.count" -> both.size.toDouble,
      "streaming.batch.trigger_p50_ms" -> Stats.median(triggers),
      "streaming.batch.trigger_p95_ms" -> Stats.percentile(triggers, 0.95),
      "streaming.batch.planning_ms" -> mean(both.map(_.dur("queryPlanning").toDouble)),
      "streaming.batch.add_batch_ms" -> mean(both.map(_.dur("addBatch").toDouble)),
      "streaming.batch.wal_commit_ms" -> mean(both.map(_.dur("walCommit").toDouble)),
      "streaming.batch.commit_offsets_ms" -> mean(both.map(_.dur("commitOffsets").toDouble)),
      "streaming.batch.queries_per_event" -> windowExecs / events,
      "spark.cpu_us_per_event" -> windowTasks.map(_.cpuNs).sum / 1000.0 / events,
      "spark.shuffle_bytes_per_event" -> windowTasks.map(_.shuffleBytes).sum / events,
      "spark.shuffle_records_per_event" -> windowTasks.map(_.shuffleRecords).sum / events,
      "spark.tasks_per_batch" -> windowTasks.size.toDouble / math.max(1, both.size),
      "spark.gc_ms" -> windowTasks.map(_.gcMs).sum.toDouble,
      "spark.core_busy_frac" -> windowTasks.map(_.durationMs).sum / ((w1 - w0).toDouble * a.cpus),
      "streaming.sink.rows" -> sinkRows.toDouble,
      "streaming.sink.rows_per_event" -> sinkRows / events,
      "streaming.sink.calls" -> calls.size.toDouble,
      "streaming.sink.busy_ms" -> calls.map(_._2).sum / 1e6,
      "streaming.sink.call_p95_ms" -> Stats.percentile(calls.map(_._2 / 1e6), 0.95),
      "streaming.sink.failed_calls" -> SinkLog.failedCalls.get().toDouble,
      "streaming.sink.connections" -> conns.size.toDouble,
      "streaming.sink.connect_ms" -> mean(conns.map(_._2 / 1e6)),
      "streaming.sink.heartbeat_ms" -> mean(SinkLog.heartbeatNs.asScala.toSeq.map(_ / 1e6)),
      "pg.xact_commit" -> (pg1.getOrElse("xact_commit", 0.0) - pg0.getOrElse("xact_commit", 0.0)),
      "pg.xact_rollback" -> (pg1.getOrElse("xact_rollback", 0.0) - pg0.getOrElse("xact_rollback", 0.0)),
      "pg.deadlocks" -> (pg1.getOrElse("deadlocks", 0.0) - pg0.getOrElse("deadlocks", 0.0)),
      "pg.tup_updated" -> (pg1.getOrElse("tup_updated", 0.0) - pg0.getOrElse("tup_updated", 0.0)))
  }

  private def batchRow(q: String, b: Batch): Map[String, Any] = Map(
    "query" -> q, "batch" -> b.p.batchId, "start_ms" -> b.startMs, "rows" -> b.rows,
    "lo" -> b.lo, "hi" -> b.hi, "latest" -> b.latest,
    "duration_ms" -> b.p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
    "state" -> b.p.stateOperators.map(o => Map("op" -> o.operatorName, "rows" -> o.numRowsTotal,
      "mem_bytes" -> o.memoryUsedBytes, "dropped_late" -> o.numRowsDroppedByWatermark,
      "custom" -> o.customMetrics.asScala.map { case (k, v) => k -> v.longValue }.toMap)).toSeq)
}
