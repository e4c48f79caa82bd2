package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout, OutputMode, Trigger}
import graft.operators.CurrentValues

/** The FUSED ingest pipeline (r11 verdict #4): value reduction and the
  * liveness state machine in ONE streaming query.
  *
  * The split design ([[IngestPipeline.start]]) runs TWO queries over the
  * same source: the value path (per-key last-value reduction → upsert)
  * and the liveness path (per-device FMGWS → upsert). THROUGHPUT_r11
  * named the 800k-leg ceiling as exactly this: the second stateful query
  * set time-sharing the same cores. Structurally the split pays twice
  * for everything upstream of the sinks — each query admits the SOURCE
  * independently (two DSv2 pulls of every event), runs its own
  * watermark-dedup state, and schedules its own micro-batches.
  *
  * Fused: one `flatMapGroupsWithState` keyed by device consumes the gated
  * stream once and emits BOTH row kinds —
  *
  *   - per (device, measure) last-value rows, reduced INSIDE the group
  *     (same (source_ts, event_seq) last-writer-wins contract as
  *     [[CurrentValuesSink.applyBatch]], quality-gated per event);
  *   - the device's online transition/refresh, by delegating to
  *     [[Liveness.update]] — the SAME state machine, the same
  *     `DeviceState`, the same event-time timeout arithmetic, so the
  *     liveness semantics cannot drift between modes.
  *
  * One source admission, one dedup state, one shuffle (by device), one
  * state store, one sink pass. The trade the reference's split encodes —
  * value and liveness restartable independently — is lost; that is why
  * this ships as a MODE beside [[IngestPipeline.start]], and the round's
  * THROUGHPUT artifact records the measured delta so the default is a
  * measurement, not a guess (r11 verdict #4 asked for exactly that).
  *
  * Parity: FusedParitySpec pins final-table equality against the split
  * pipeline on the deterministic multi-device script (dups, bad status,
  * silence-driven offline), including under RocksDB.
  */
object FusedPipeline {

  /** Gated event + the source's dequeue sequence (the within-batch
    * last-writer-wins tiebreak the sink contract requires).
    */
  final case class SeqEvent(
      device: String,
      measure_name: String,
      raw_value: Double,
      source_ts: Timestamp,
      status_ok: Boolean,
      event_seq: Long)

  /** Union output row: `kind` ∈ {value, online}. */
  final case class FusedRow(
      device: String,
      measure_name: String,
      raw_value: Double,
      online: Double,
      event_ts: Timestamp,
      kind: String)

  private[streaming] def update(
      device: String,
      events: Iterator[SeqEvent],
      state: GroupState[Liveness.DeviceState]): Iterator[FusedRow] = {
    val evs = events.toSeq
    // liveness: delegate to the ONE state machine (timeout branch included
    // — on timeout `evs` is empty and the value side emits nothing)
    val online = Liveness.update(device,
      evs.iterator.map(e =>
        MeasureEvent(e.device, e.measure_name, e.raw_value, e.source_ts, e.status_ok)),
      state
    ).map(o => FusedRow(o.device, CurrentValues.OnlineMeasure, 0.0, o.online, o.event_ts, "online"))
    // values: F1 quality gate per event, then last-writer-wins per measure
    // on (source_ts, event_seq) — reduced here, inside the group, instead
    // of a second keyed shuffle over the whole batch
    val values = evs.filter(_.status_ok)
      .groupBy(_.measure_name).valuesIterator.map { g =>
        val last = g.maxBy(e => (e.source_ts.getTime, e.event_seq))
        FusedRow(device, last.measure_name, last.raw_value, 1.0, last.source_ts, "value")
      }
    values ++ online
  }

  /** One micro-batch of fused rows → the target. Value rows are already
    * one-per-key (reduced in the group); online rows keep the defensive
    * latest-per-device pick the split liveness sink applies.
    */
  private[streaming] def applyBatch(batch: Dataset[FusedRow],
                                    target: CurrentValuesSink.UpsertTarget,
                                    slope: Double, offset: Double): Unit = {
    import batch.sparkSession.implicits._
    val df = batch.toDF()
    val values = df.filter(col("kind") === "value")
      .withColumn("tag_value", bround(col("raw_value"), 3))
      .withColumn("measure_value",
        graft.functions.ScalarOps.scaleSlopeIntercept(col("raw_value"), slope, offset))
      .withColumn("last_updated",
        graft.functions.ScalarOps.lastUpdatedString(col("event_ts")))
      .select("device", "measure_name", "tag_value", "measure_value", "last_updated")
      .as[CurrentValuesSink.ModRow]
    values.foreachPartition(
      (it: Iterator[CurrentValuesSink.ModRow]) => target.upsertPartition(it))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("device").orderBy(col("event_ts").desc)
    val online = df.filter(col("kind") === "online")
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("device"),
        lit(CurrentValues.OnlineMeasure).as("measure_name"),
        col("online").as("tag_value"),
        col("online").as("measure_value"),
        graft.functions.ScalarOps.lastUpdatedString(col("event_ts")).as("last_updated"))
      .as[CurrentValuesSink.ModRow]
    online.foreachPartition(
      (it: Iterator[CurrentValuesSink.ModRow]) => target.upsertPartition(it))
  }

  /** [[IngestPipeline.start]]'s fused twin: same gates, same dedup, same
    * trigger/checkpoint contract, ONE query. Returns the same Handle shape
    * (both fields the one query) so callers are mode-agnostic.
    */
  def start(raw: DataFrame, target: CurrentValuesSink.UpsertTarget,
            slope: Double = 1.0, offset: Double = 0.0,
            trigger: Trigger = Trigger.ProcessingTime("5 seconds"),
            checkpointDir: Option[String] = None): IngestPipeline.Handle =
    start(raw, target, slope, offset,
      IngestProfile.Default.copy(trigger = trigger), checkpointDir)

  /** [[start]] under a named freshness profile (see [[IngestProfile]]). */
  def start(raw: DataFrame, target: CurrentValuesSink.UpsertTarget,
            slope: Double, offset: Double,
            profile: IngestProfile,
            checkpointDir: Option[String]): IngestPipeline.Handle = {
    LocalCheckpointFs.install(raw.sparkSession)
    val trigger = profile.trigger
    val g = IngestPipeline.gated(raw, profile.watermarkDelay)
    import g.sparkSession.implicits._
    // the DSv2 source carries event_seq (true dequeue order, the
    // deterministic tiebreak); a source without one gets a constant —
    // monotonically_increasing_id is disallowed in a streaming plan, and
    // the split path's id fallback was equally arbitrary on true ties
    // (same key, same timestamp, different payloads)
    val withSeq =
      if (g.columns.contains("event_seq")) g
      else g.withColumn("event_seq", lit(0L))
    val fused = withSeq
      .select("device", "measure_name", "raw_value", "source_ts", "status_ok", "event_seq")
      .as[SeqEvent]
      .groupByKey(_.device)
      .flatMapGroupsWithState[Liveness.DeviceState, FusedRow](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
    val writer: DataStreamWriter[FusedRow] = fused.writeStream
      .outputMode("append").trigger(trigger)
      .foreachBatch { (batch: Dataset[FusedRow], _: Long) =>
        applyBatch(batch, target, slope, offset)
      }
      .queryName("graft-fused")
    val q = checkpointDir
      .map(d => writer.option("checkpointLocation", s"$d/fused"))
      .getOrElse(writer).start()
    IngestPipeline.Handle(q, q)
  }
}
