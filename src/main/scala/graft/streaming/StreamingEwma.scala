package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.MeasureStream.micros

/** Streaming twin of [[graft.operators.Historian.ewmaForecast]]: the
  * truncated dyadic EWMA evaluated incrementally — state is the last 16
  * quantized values per key (the [[StreamingAnomaly]] ring contract),
  * and once the ring is full every arriving observation emits the same
  * exact-integer numerator `Σ ring[newest−j+1]·2^(16−j)`, forecast, and
  * residual the batch window produces, so a replayed log matches the
  * batch output bit for bit (StreamingEwmaSpec pins it). Warm-up rows
  * (ring not yet full) emit nothing, mirroring the batch `rn > 16`
  * filter.
  */
object StreamingEwma {

  val Window = 16
  val Den: Long = (1L << Window) - 1 // 65535
  val DenScaled: Double = Den.toDouble * 1024.0

  final case class Obs(k: String, ts: Timestamp, q: Long, tie: Long)
  final case class Forecast(k: String, tie: Long, q: Long, fnum: Long,
                            forecast: Double, resid_scaled: Long)
  final case class RingState(vals: Vector[Long], lastTus: Long)

  private[streaming] def update(ttlMillis: Long)(
      key: String,
      events: Iterator[Obs],
      state: GroupState[RingState]): Iterator[Forecast] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val sorted = events.toArray.sortBy(e => (micros(e.ts), e.tie))
      var ring = state.getOption.map(_.vals).getOrElse(Vector.empty)
      val out = Vector.newBuilder[Forecast]
      sorted.foreach { e =>
        if (ring.length == Window) {
          // lag j (newest predecessor = lag 1) carries weight 2^(16-j)
          var fnum = 0L
          var j = 1
          while (j <= Window) {
            fnum += ring(Window - j) * (1L << (Window - j))
            j += 1
          }
          out += Forecast(e.k, e.tie, e.q, fnum,
            fnum.toDouble / DenScaled, e.q * Den - fnum)
        }
        ring = (ring :+ e.q).takeRight(Window)
      }
      if (sorted.nonEmpty) {
        state.update(RingState(ring, micros(sorted.last.ts)))
        state.setTimeoutTimestamp(sorted.last.ts.getTime + ttlMillis)
      }
      out.result().iterator
    }
  }

  /** Forecast rows over a stream carrying `k`, `ts`, `value`, `tie`;
    * quantization matches the batch operator (round_even(v·2¹⁰)).
    */
  def forecasts(obs: DataFrame, delay: String = "60 seconds",
                ttlMillis: Long = 86400000L): Dataset[Forecast] = {
    import obs.sparkSession.implicits._
    obs
      .select(col("k").cast("string"), col("ts").cast("timestamp"),
        bround(col("value") * 1024, 0).cast("long").as("q"),
        col("tie").cast("long"))
      .withWatermark("ts", delay)
      .as[Obs]
      .groupByKey(_.k)
      .flatMapGroupsWithState[RingState, Forecast](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        update(ttlMillis))
  }
}
