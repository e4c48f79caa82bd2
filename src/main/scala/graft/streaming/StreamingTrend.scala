package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
import graft.streaming.MeasureStream.micros

/** Streaming twin of [[graft.operators.Historian.trendSlope]]: the OLS
  * sufficient statistics (n, Σx, Σy, Σxy, Σx²) folded incrementally per
  * device — constant state, no buffer — with x measured in whole seconds
  * from the key's FIRST observation. On an event-ordered replay the
  * first observation IS the batch operator's min-ts baseline, so the
  * emitted (num, den) rationals equal the batch figures to the last bit
  * (StreamingTrendSpec pins it). Emits the running slope after every
  * batch (Update mode).
  *
  * The same in-order contract as the other parity twins: late data that
  * PRECEDES a key's current baseline would re-anchor x in batch but
  * cannot retroactively reweight streamed sums — replay event-ordered
  * (or accept the documented divergence, as every incremental regression
  * does).
  */
object StreamingTrend {

  final case class Obs(k: Long, ts: Timestamp, q: Long)
  final case class TrendState(t0us: Long, n: Long, sx: Long, sy: Long,
                              sxy: Long, sxx: Long)
  final case class TrendRow(k: Long, n: Long, num: Long, den: Long,
                            slope: Option[Double])

  private[streaming] def update(
      key: Long,
      events: Iterator[Obs],
      state: GroupState[TrendState]): TrendRow = {
    val sorted = events.toArray.sortBy(e => micros(e.ts))
    var st = state.getOption.getOrElse(TrendState(Long.MinValue, 0L, 0L, 0L, 0L, 0L))
    sorted.foreach { e =>
      val tus = micros(e.ts)
      if (st.n == 0) st = st.copy(t0us = tus)
      val x = math.floorDiv(tus - st.t0us, 1000000L)
      st = st.copy(n = st.n + 1, sx = st.sx + x, sy = st.sy + e.q,
        sxy = st.sxy + x * e.q, sxx = st.sxx + x * x)
    }
    state.update(st)
    val num = st.n * st.sxy - st.sx * st.sy
    val den = st.n * st.sxx - st.sx * st.sx
    TrendRow(key, st.n, num, den,
      if (den > 0) Some(num.toDouble / den.toDouble) else None)
  }

  /** Running trend per device over a stream carrying `k`, `ts`, `value`.
    * Quantization matches the batch operator (round_even(v·2¹⁰)).
    */
  def trend(obs: DataFrame, delay: String = "60 seconds"): Dataset[TrendRow] = {
    import obs.sparkSession.implicits._
    obs
      .select(col("k").cast("long"), col("ts").cast("timestamp"),
        bround(col("value") * lit(1024), 0).cast("long").as("q"))
      .withWatermark("ts", delay)
      .as[Obs]
      .groupByKey(_.k)
      .mapGroupsWithState[TrendState, TrendRow](GroupStateTimeout.NoTimeout())(update)
  }
}
