package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.MeasureStream.micros

/** Streaming twin of [[graft.operators.Historian.twa]]: the running
  * step-interpolated time-weighted average per device, folded
  * incrementally — each observation's value accrues weight only when
  * the NEXT observation closes its holding interval, which is exactly
  * the batch operator's "last sample weighs zero" contract, so after
  * replaying a log the streamed figure equals the batch figure to the
  * last bit (same integer µs×quantized sums, same single final
  * division; StreamingHistorianSpec pins it).
  *
  * State per device: the open interval's (ts, q) plus four running
  * integer sums — constant size, no window buffer at all (contrast the
  * anomaly ring: TWA is a fold, not a windowed statistic). Emits the
  * running TWA after every batch (Update mode).
  */
object StreamingHistorian {

  val QScale: Long = graft.operators.Historian.QScale

  final case class Obs(k: Long, ts: Timestamp, q: Long, tie: Long)
  final case class TwaState(lastTus: Long, lastQ: Long,
                            num: Long, den: Long, qsum: Long, n: Long)
  final case class TwaRow(k: Long, twa: Double, n_obs: Long)

  private[streaming] def update(
      key: Long,
      events: Iterator[Obs],
      state: GroupState[TwaState]): TwaRow = {
    val sorted = events.toArray.sortBy(e => (micros(e.ts), e.tie))
    var st = state.getOption.getOrElse(TwaState(Long.MinValue, 0L, 0L, 0L, 0L, 0L))
    sorted.foreach { e =>
      val tus = micros(e.ts)
      if (st.n > 0) {
        val dms = (tus - st.lastTus) / 1000L
        st = st.copy(num = st.num + st.lastQ * dms, den = st.den + dms)
      }
      st = st.copy(lastTus = tus, lastQ = e.q, qsum = st.qsum + e.q, n = st.n + 1)
    }
    state.update(st)
    val twa =
      if (st.den > 0) st.num.toDouble / (st.den * QScale).toDouble
      else st.qsum.toDouble / (st.n * QScale).toDouble
    TwaRow(key, twa, st.n)
  }

  /** Running TWA per device over a stream carrying `k`, `ts`, `value`,
    * `tie`. Quantization matches the batch operator (round_even(v·2²⁰)).
    */
  def twa(obs: DataFrame, delay: String = "60 seconds"): Dataset[TwaRow] = {
    import obs.sparkSession.implicits._
    obs
      .select(col("k").cast("long"), col("ts").cast("timestamp"),
        bround(col("value") * QScale, 0).cast("long").as("q"),
        col("tie").cast("long"))
      .withWatermark("ts", delay)
      .as[Obs]
      .groupByKey(_.k)
      .mapGroupsWithState[TwaState, TwaRow](GroupStateTimeout.NoTimeout())(update)
  }

  /** Streaming twin of [[graft.operators.Historian.ohlc]]: hourly OHLC
    * bars as a watermarked windowed aggregation — open/close via
    * `min_by`/`max_by` on the (µs, tie) key, which is exactly the batch
    * operator's (ts, tiebreak) row_number endpoints, so closed bars
    * match the batch bars row for row (StreamingHistorianSpec pins it).
    * Pure declarative aggregation: no custom state at all — the shape
    * Structured Streaming maintains incrementally with map-side partial
    * aggregation, the cheapest possible ingest-time bar build.
    */
  def ohlcBars(obs: DataFrame, delay: String = "60 seconds"): DataFrame = {
    obs
      .select(col("k").cast("long"), col("ts").cast("timestamp"),
        col("value").as("v"), col("tie").cast("long"))
      .withColumn("ord", struct(unix_micros(col("ts")).as("tus"), col("tie")))
      .withWatermark("ts", delay)
      .groupBy(col("k"), window(col("ts"), "1 hour"))
      .agg(
        min_by(col("v"), col("ord")).as("open"),
        max(col("v")).as("high"),
        min(col("v")).as("low"),
        max_by(col("v"), col("ord")).as("close"),
        count(lit(1)).as("n_obs"))
      .select(col("k"), col("window.start").as("bucket"),
        col("open"), col("high"), col("low"), col("close"), col("n_obs"))
  }
}
