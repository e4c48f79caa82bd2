package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import graft.operators.{CurrentValues, Gates}
import graft.sources.MeasureSourceProvider
import graft.streaming.CurrentValuesSink.UpsertTarget

/** The reference's full data path (SURVEY.md §3.1) wired end-to-end in
  * Structured Streaming:
  *
  * {{{
  * source (DataSource V2)            S1/T6
  *   → measure exclusion (F3)
  *   → watermark + dedup   (T8)
  *   → quality gate (F1) split:
  *       good  → scale (C1) → current-value upsert (K2)
  *       state → liveness machine (T2) → online-flag upsert
  * }}}
  *
  * Two queries share the one source stream: the value path and the
  * liveness path (the reference likewise writes value rows and
  * myPV_online rows independently — `Services/OpcSubscribeService.cs:578-585`).
  * Both land in the same keyed UpsertTarget, so the result is exactly the
  * reference's `modvalues` table.
  *
  * The staleness gate (F2) is enforced by the watermark: rows older than
  * the delay are dropped by `dropDuplicatesWithinWatermark`'s state
  * eviction bound, matching the reference's |now − source| ≤ 60 s intent
  * in event time (deterministic under replay — SURVEY.md §7.4).
  */
object IngestPipeline {

  /** Driver-side twin of ScalarOps.lastUpdatedString (C4 µs format, UTC). */
  private def formatTs(ts: java.sql.Timestamp): String =
    java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC)
      .format(ts.toInstant)

  final case class Handle(valueQuery: StreamingQuery, livenessQuery: StreamingQuery) {
    def stop(): Unit = { valueQuery.stop(); livenessQuery.stop() }
    def processAllAvailable(): Unit = {
      valueQuery.processAllAvailable(); livenessQuery.processAllAvailable()
    }
  }

  /** Gates + dedup shared by both paths. */
  def gated(raw: DataFrame, watermarkDelay: String = "60 seconds"): DataFrame =
    MeasureStream.watermarkDedup(Gates.excludeOnlineMeasure(raw), watermarkDelay)

  /** Start the two sink queries over an already-open measure stream.
    * `checkpointDir` is REQUIRED in production: with it, a restart resumes
    * from the committed epoch and the idempotent keyed upsert makes the
    * replay exactly-once (SURVEY.md §7.4); without it (tests/demos) Spark
    * uses a temp checkpoint and restart re-reads the source.
    */
  def start(raw: DataFrame, target: UpsertTarget,
            slope: Double = 1.0, offset: Double = 0.0,
            trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
            checkpointDir: Option[String] = None): Handle =
    start(raw, target, slope, offset,
      IngestProfile.Default.copy(trigger = trigger), checkpointDir)

  /** [[start]] under a NAMED freshness profile (r12 verdict #8): the
    * watermark and trigger travel together — see [[IngestProfile]] for
    * the dedup-horizon vs liveness-freshness trade each preset takes.
    */
  def start(raw: DataFrame, target: UpsertTarget,
            slope: Double, offset: Double,
            profile: IngestProfile,
            checkpointDir: Option[String]): Handle = {
    LocalCheckpointFs.install(raw.sparkSession)
    val trigger = profile.trigger
    val g = gated(raw, profile.watermarkDelay)

    // value path: only good values reach the table (F1)
    val valueWriter = CurrentValuesSink
      .writer(Gates.qualityGate(g), target, slope, offset, trigger)
      .queryName("graft-values")
    val valueQuery = checkpointDir
      .map(d => valueWriter.option("checkpointLocation", s"$d/values"))
      .getOrElse(valueWriter).start()

    val livenessQuery = livenessWriter(g, target, trigger, checkpointDir).start()
    Handle(valueQuery, livenessQuery)
  }

  /** The liveness path shared by [[start]] and [[startScaled]]: ALL events
    * feed the state machine (bad status and silence both drive the flag to
    * 0). The per-device reduction and the writes stay distributed — no
    * driver collect on the event path.
    */
  private[graft] def livenessWriter(g: DataFrame, target: UpsertTarget, trigger: Trigger,
                                    checkpointDir: Option[String]) = {
    val writer = Liveness.onlineEvents(MeasureStream.typed(g), watermarked = true)
      .writeStream.outputMode("append").trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[Liveness.OnlineEvent], _: Long) =>
        import batch.sparkSession.implicits._
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("device").orderBy(col("event_ts").desc)
        val rows = batch.toDF()
          .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
          .select(col("device"),
            lit(CurrentValues.OnlineMeasure).as("measure_name"),
            col("online").as("tag_value"),
            col("online").as("measure_value"),
            graft.functions.ScalarOps.lastUpdatedString(col("event_ts")).as("last_updated"))
          .as[CurrentValuesSink.ModRow]
        rows.foreachPartition(
          (it: Iterator[CurrentValuesSink.ModRow]) => target.upsertPartition(it))
      }
      .queryName("graft-liveness")
    checkpointDir
      .map(d => writer.option("checkpointLocation", s"$d/liveness"))
      .getOrElse(writer)
  }

  /** [[start]] with per-POINT auto-scaling from the config dim (the
    * reference's actual semantics — each monitored point scales by its
    * template's scale_mode): the value path goes through
    * [[CurrentValuesSink.writerScaled]], everything else is identical.
    */
  def startScaled(raw: DataFrame, target: UpsertTarget, scaling: DataFrame,
                  trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
                  checkpointDir: Option[String] = None): Handle = {
    LocalCheckpointFs.install(raw.sparkSession)
    val g = gated(raw)
    val valueWriter = CurrentValuesSink
      .writerScaled(Gates.qualityGate(g), target, scaling, trigger)
      .queryName("graft-values")
    val valueQuery = checkpointDir
      .map(d => valueWriter.option("checkpointLocation", s"$d/values"))
      .getOrElse(valueWriter).start()
    val livenessQuery = livenessWriter(g, target, trigger, checkpointDir).start()
    Handle(valueQuery, livenessQuery)
  }

  /** K4/T1 — the heartbeat as its own triggered query (reference: every
    * 12th 5 s tick, `Services/OpcSubscribeService.cs:299-301`): each
    * trigger bumps last_updated for every row of currently-online devices,
    * because OPC UA only pushes on change and downstream consumers treat a
    * stale last_updated as death. The rate source is just a metronome; the
    * work happens in foreachBatch against the keyed target.
    */
  def heartbeatQuery(spark: SparkSession, target: UpsertTarget,
                     trigger: Trigger = Trigger.ProcessingTime("60 seconds"),
                     now: () => java.sql.Timestamp = () =>
                       java.sql.Timestamp.from(java.time.Instant.now())): StreamingQuery = {
    LocalCheckpointFs.install(spark)
    spark.readStream.format("rate").option("rowsPerSecond", 1).load()
      .writeStream.outputMode("append").trigger(trigger)
      .foreachBatch { (_: DataFrame, _: Long) =>
        CurrentValuesSink.heartbeat(target, formatTs(now()))
      }
      .queryName("graft-heartbeat").start()
  }

  /** T3 fan-out (reference `:980-997`): a server silent for 3 minutes
    * marks EVERY device of that server offline. The stream carries
    * (server, source_ts); each silence event joins the (device, server)
    * dimension batch-side and lands as myPV_online=0 upserts.
    */
  def watchdogQuery(withServer: DataFrame, deviceDim: Seq[(String, String)],
                    target: UpsertTarget, trigger: Trigger): StreamingQuery = {
    import withServer.sparkSession.implicits._
    watchdogQuery(withServer, deviceDim.toDF("device", "server"), target, trigger)
  }

  /** The (device, server) dim as a DataFrame — the production form, fed
    * directly by the config plane (`ConfigFiles.devicePoints(...)
    * .select(col("daq_name").as("device"), col("server"))`) with no
    * driver collect anywhere on the path.
    */
  def watchdogQuery(withServer: DataFrame, deviceDim: DataFrame,
                    target: UpsertTarget,
                    trigger: Trigger = Trigger.ProcessingTime("5 seconds")): StreamingQuery = {
    LocalCheckpointFs.install(withServer.sparkSession)
    ServerWatchdog.silenceEvents(withServer)
      .writeStream.outputMode("append").trigger(trigger)
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[ServerWatchdog.SilenceEvent], _: Long) =>
        val spark = batch.sparkSession
        import spark.implicits._
        // broadcast the (device, server) dim against the silence events:
        // the fan-out join and the writes run on the executors
        val rows = batch.toDF()
          .join(broadcast(deviceDim.select("device", "server")), Seq("server"))
          .select(col("device"),
            lit(CurrentValues.OnlineMeasure).as("measure_name"),
            lit(0.0).as("tag_value"),
            lit(0.0).as("measure_value"),
            graft.functions.ScalarOps.lastUpdatedString(col("silent_since")).as("last_updated"))
          .as[CurrentValuesSink.ModRow]
        rows.foreachPartition(
          (it: Iterator[CurrentValuesSink.ModRow]) => target.upsertPartition(it))
      }
      .queryName("graft-watchdog").start()
  }

  /** Convenience: open the simulated DataSource V2 source and run the full
    * pipeline against it (the shape a production OPC UA connector plugs
    * into).
    */
  def startFromSource(spark: SparkSession, target: UpsertTarget,
                      nDevices: Int = 5, nMeasures: Int = 2): Handle = {
    val raw = spark.readStream
      .format(classOf[MeasureSourceProvider].getName)
      .option("nDevices", nDevices).option("nMeasures", nMeasures)
      .option("numPartitions", 2)
      .load()
    start(raw, target)
  }
}
