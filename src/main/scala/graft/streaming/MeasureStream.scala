package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.types._

/** The streaming measure-event model (reference:
  * solarops/opcua_ingestion_engine, `Services/OpcSubscribeService.cs:522-598`
  * — one row per dequeued OPC UA monitored-item value).
  *
  * Everything downstream of the source is source-agnostic: the same
  * transforms run over the parquet `events` table (batch), a MemoryStream
  * (tests), or the replay DataSource V2 source (graft.sources).
  */
object MeasureStream {

  /** Event schema shared by every source implementation. */
  val schema: StructType = StructType(Seq(
    StructField("device", StringType, nullable = false),
    StructField("measure_name", StringType, nullable = false),
    StructField("raw_value", DoubleType, nullable = false),
    StructField("source_ts", TimestampType, nullable = false),
    StructField("status_ok", BooleanType, nullable = false)))

  /** Schema carrying the source's dequeue sequence. The DSv2 source emits
    * `event_seq` (its offset position) and the sink uses it as the
    * within-batch last-writer-wins tiebreak — true arrival order, like the
    * reference applying values in dequeue order
    * (`Services/OpcSubscribeService.cs:540-580`). A partition-layout id
    * (`monotonically_increasing_id`) would resolve same-timestamp ties
    * nondeterministically.
    */
  val schemaWithSeq: StructType =
    schema.add(StructField("event_seq", LongType, nullable = false))

  /** Typed view for the stateful operators. */
  def typed(df: DataFrame): Dataset[MeasureEvent] = {
    import df.sparkSession.implicits._
    df.select("device", "measure_name", "raw_value", "source_ts", "status_ok")
      .as[MeasureEvent]
  }

  /** T8 — late/duplicate handling (`SURVEY.md §2.8`): bound state with an
    * event-time watermark, then drop duplicate notifications within it.
    * The dedup key includes the PAYLOAD (raw_value, status_ok), not just
    * (device, measure, ts): a true duplicate is a redelivered notification
    * with identical content, while two values sharing a timestamp are a
    * correction — collapsing those here would pick an arbitrary survivor
    * and defeat the sink's deterministic dequeue-order tiebreak
    * (event_seq). The reference relies on the OPC queue + staleness gate
    * only; this is the streaming-native hardening.
    */
  def watermarkDedup(df: DataFrame, delay: String = "60 seconds"): DataFrame =
    df.withWatermark("source_ts", delay)
      .dropDuplicatesWithinWatermark(
        "device", "measure_name", "source_ts", "raw_value", "status_ok")

  /** Event time in µs. `Timestamp.getTime` is ms-truncated; the nanos
    * field carries the full sub-second, and the batch operators order by
    * `unix_micros`, so the streaming twins' parity on sub-ms data needs
    * µs too.
    */
  private[streaming] def micros(t: Timestamp): Long =
    math.floorDiv(t.getTime, 1000L) * 1000000L + t.getNanos / 1000L
}

/** One OPC UA notification value (typed). */
final case class MeasureEvent(
    device: String,
    measure_name: String,
    raw_value: Double,
    source_ts: Timestamp,
    status_ok: Boolean)
