package graft.streaming

import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import graft.operators.CurrentValues

/** K2 — the keyed current-value upsert (reference
  * `Services/OpcSubscribeService.cs:600-654`: per-value
  * SELECT-FOR-UPDATE + UPDATE with retries). In Spark the micro-batch is
  * the transaction: one set-oriented MERGE per trigger, single-writer,
  * idempotent under epoch replay — the locks and retry loops disappear by
  * construction (SURVEY.md §4).
  *
  * The write path is PARTITION-level: after the distributed per-key
  * reduction, each partition of final rows is applied executor-side via
  * `foreachPartition` — row data never funnels through the driver, so the
  * sink scales with executors (at 100 TB / millions of keys a driver-side
  * collect would be the bottleneck and an OOM risk). Keys are disjoint
  * across partitions (the reduction shuffles by key), so concurrent
  * partition writers never contend on a row.
  *
  * Control-plane operations (seed / offline reset / heartbeat) are
  * SET-ORIENTED statements on the target — the reference's own
  * `INSERT .. ON CONFLICT DO NOTHING` / `UPDATE .. WHERE` shapes
  * (`Services/OpcSubscribeService.cs:656-713,717-739,332-378`) — never
  * snapshot-the-table-and-rewrite driver logic.
  */
object CurrentValuesSink {

  /** One row of the reference's `modvalues` table
    * (DDL `Services/OpcSubscribeService.cs:140-152`).
    */
  final case class ModRow(
      device: String,
      measure_name: String,
      tag_value: Double,
      measure_value: Double,
      last_updated: String)

  /** Where MERGE lands. Implementations must be idempotent per epoch —
    * replaying a batch with the same rows must yield the same table — and
    * serializable: `upsertPartition` runs executor-side inside
    * `foreachPartition` closures.
    */
  trait UpsertTarget extends Serializable {
    /** Executor-side: apply one partition of final per-key rows. Callers
      * guarantee keys are disjoint across partitions within a batch.
      */
    def upsertPartition(rows: Iterator[ModRow]): Unit

    /** Driver-side convenience for small control-plane row sets (watchdog
      * fan-out, test fixtures) — same semantics, same idempotence.
      */
    def upsert(rows: Seq[ModRow]): Unit = upsertPartition(rows.iterator)

    /** K1 seed-if-missing: a zero row per key, existing keys untouched
      * (`INSERT .. ON CONFLICT DO NOTHING`).
      */
    def seed(keys: Seq[(String, String)], nowS: String): Unit

    /** K3 startup reset: zero every myPV_online row, stamp now. */
    def offlineReset(nowS: String): Unit

    /** K4 heartbeat: bump last_updated on every row of every currently
      * online device.
      */
    def heartbeat(nowS: String): Unit
  }

  /** Test/demo target. State lives in a companion-object registry keyed by
    * instance id, so `upsertPartition` closures reach the SAME table after
    * closure serialization in local mode (the same static-state trick as
    * Spark's own memory sink). On a real cluster this target is driver-only
    * by design — production uses [[JdbcUpsert.Target]].
    */
  final class InMemoryTarget extends UpsertTarget {
    private val id = java.util.UUID.randomUUID().toString
    InMemoryTarget.tables.putIfAbsent(id, new ConcurrentHashMap[(String, String), ModRow]())
    private def table = InMemoryTarget.tables.get(id)

    override def upsertPartition(rows: Iterator[ModRow]): Unit =
      rows.foreach(r => table.put((r.device, r.measure_name), r))

    override def seed(keys: Seq[(String, String)], nowS: String): Unit =
      keys.foreach { case (d, m) =>
        table.putIfAbsent((d, m), ModRow(d, m, 0.0, 0.0, nowS))
      }

    override def offlineReset(nowS: String): Unit =
      table.replaceAll { (_, r) =>
        if (r.measure_name == CurrentValues.OnlineMeasure)
          r.copy(tag_value = 0.0, measure_value = 0.0, last_updated = nowS)
        else r
      }

    override def heartbeat(nowS: String): Unit = {
      val online = table.values.asScala
        .filter(r => r.measure_name == CurrentValues.OnlineMeasure && r.measure_value == 1.0)
        .map(_.device).toSet
      table.replaceAll { (_, r) =>
        if (online(r.device)) r.copy(last_updated = nowS) else r
      }
    }

    def snapshot: Seq[ModRow] = table.values.asScala.toSeq

    /** Release this instance's table from the process-wide registry (the
      * registry would otherwise retain it for the life of the JVM).
      */
    def close(): Unit = InMemoryTarget.tables.remove(id)
  }

  object InMemoryTarget {
    private[CurrentValuesSink] val tables =
      new ConcurrentHashMap[String, ConcurrentHashMap[(String, String), ModRow]]()
  }

  /** Reduce one micro-batch to its final per-key rows (last writer wins
    * WITHIN the batch too — the reference applies values in dequeue order,
    * so only the newest survives) and apply them partition-by-partition on
    * the executors. Same-timestamp ties break on the source's dequeue
    * sequence (`event_seq`, emitted by the DSv2 source) so the outcome is
    * deterministic and matches arrival order; a synthetic id is only the
    * fallback for sources that carry no sequence.
    */
  def applyBatch(batch: DataFrame, target: UpsertTarget, scaleSlope: Double,
                 scaleOffset: Double): Unit =
    applyBatchWith(batch, target,
      graft.functions.ScalarOps.scaleSlopeIntercept(col("raw_value"), scaleSlope, scaleOffset))

  /** Per-POINT auto-scaling, the reference's actual semantics
    * (`Services/OpcSubscribeService.cs:565-576`: each monitored point
    * scales by its template's scale_mode + parameters). `scaling` is the
    * config dim with columns (device|daq_name, measure_name, scale_mode,
    * slope, offset, value_min, value_max, target_min, target_max) —
    * `ConfigFiles.devicePoints(...)` output works as-is. It joins in
    * AFTER the per-key reduction (one row per key, not per event), so
    * the config columns never widen the reduction shuffle; points with
    * no config row fall back to the identity scale.
    */
  def applyBatchScaled(batch: DataFrame, target: UpsertTarget,
                       scaling: DataFrame): Unit = {
    val named =
      if (scaling.columns.contains("device")) scaling
      else scaling.withColumnRenamed("daq_name", "device")
    val dim = named.select("device", "measure_name", "scale_mode",
      "slope", "offset", "value_min", "value_max", "target_min", "target_max")
    applyBatchWith(batch, target,
      graft.functions.ScalarOps.scaleByMode(col("raw_value"), col("scale_mode"),
        col("slope"), col("offset"), col("value_min"), col("value_max"),
        col("target_min"), col("target_max")),
      latest => latest.join(broadcast(dim), Seq("device", "measure_name"), "left_outer"))
  }

  private def applyBatchWith(batch: DataFrame, target: UpsertTarget,
                             measureValue: org.apache.spark.sql.Column,
                             enrich: DataFrame => DataFrame = identity): Unit = {
    import batch.sparkSession.implicits._
    val withId =
      if (batch.columns.contains("event_seq"))
        batch.withColumn("event_id", col("event_seq"))
      else batch.withColumn("event_id", monotonically_increasing_id())
    val latest = enrich(CurrentValues.lastValuePerKey(withId))
      .withColumn("tag_value", bround(col("raw_value"), 3))
      .withColumn("measure_value", measureValue)
      .withColumn("last_updated",
        graft.functions.ScalarOps.lastUpdatedString(col("source_ts")))
      .select("device", "measure_name", "tag_value", "measure_value", "last_updated")
      .as[ModRow]
    latest.foreachPartition((rows: Iterator[ModRow]) => target.upsertPartition(rows))
  }

  /** The one writer of the myPV_online rows, for the liveness sink and the
    * watchdog's offline fan-out: each `device` row of `rows` lands as its
    * online flag `online` stamped `ts`, partition by partition on the
    * executors.
    */
  def upsertOnline(rows: DataFrame, online: Column, ts: Column,
                   target: UpsertTarget): Unit = {
    import rows.sparkSession.implicits._
    rows.select(col("device"),
        lit(CurrentValues.OnlineMeasure).as("measure_name"),
        online.as("tag_value"),
        online.as("measure_value"),
        graft.functions.ScalarOps.lastUpdatedString(ts).as("last_updated"))
      .as[ModRow]
      .foreachPartition((it: Iterator[ModRow]) => target.upsertPartition(it))
  }

  /** Wire a gated measure stream into the sink via foreachBatch, 5 s
    * trigger (reference main-loop tick, `Services/OpcSubscribeService.cs:392`).
    */
  def writer(gated: DataFrame, target: UpsertTarget,
             slope: Double = 1.0, offset: Double = 0.0,
             trigger: Trigger = Trigger.ProcessingTime("5 seconds")): DataStreamWriter[Row] =
    writerWith(gated, trigger)(applyBatch(_, target, slope, offset))

  /** Production writer: per-point scaling from the config dim (see
    * [[applyBatchScaled]]), the full reference semantics.
    */
  def writerScaled(gated: DataFrame, target: UpsertTarget, scaling: DataFrame,
                   trigger: Trigger = Trigger.ProcessingTime("5 seconds")): DataStreamWriter[Row] =
    writerWith(gated, trigger)(applyBatchScaled(_, target, scaling))

  private def writerWith(gated: DataFrame, trigger: Trigger)(
      apply: DataFrame => Unit): DataStreamWriter[Row] =
    gated.writeStream
      .outputMode("append")
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, _: Long) => apply(batch) }

  /** K1 seed + K3 startup reset (`Services/OpcSubscribeService.cs:656-713,
    * 717-739`): seed zero rows for unseen keys + one myPV_online row per
    * device, then zero every online flag. Both are single set-oriented
    * statements on the target — no table snapshot, works identically on
    * the in-memory and JDBC targets.
    */
  def seedAndReset(devicePoints: Seq[(String, String)], nowS: String,
                   target: UpsertTarget): Unit = {
    val online = devicePoints.map(_._1).distinct
      .map(d => (d, CurrentValues.OnlineMeasure))
    target.seed((devicePoints ++ online).distinct, nowS)
    target.offlineReset(nowS)
  }

  /** K4 heartbeat (`Services/OpcSubscribeService.cs:332-378`): bump
    * last_updated for all rows of currently-online devices. Driven by a
    * 60 s trigger in production; one set-oriented statement on the target.
    */
  def heartbeat(target: UpsertTarget, nowS: String): Unit =
    target.heartbeat(nowS)
}
