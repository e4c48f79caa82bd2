package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.MeasureStream.micros

/** Streaming twin of [[graft.operators.Funnel.lastTouch]]: conversion →
  * most recent preceding touch within the lookback bound, evaluated
  * incrementally. The batch operator carries the last touch forward in
  * (µs, tie) order and evaluates each conversion against it; the
  * incremental fold holds exactly that carry — two longs of state — so
  * on an event-ordered replay the attribution rows match the batch
  * output bit for bit, nulls included (StreamingLastTouchSpec pins it).
  *
  * Same-instant ties follow the batch contract: a touch with the same µs
  * but LOWER tie than the conversion counts; a higher tie does not.
  */
object StreamingLastTouch {

  final case class Obs(u: Long, ts: Timestamp, t: String, tie: Long)
  final case class TouchState(tus: Long, tie: Long)
  final case class Attribution(u: Long, conv_id: Long,
                               touch_id: Option[Long], gap_s: Option[Long])

  private[streaming] def update(touchType: String, convType: String,
                                gapUs: Long, ttlMillis: Long)(
      key: Long,
      events: Iterator[Obs],
      state: GroupState[TouchState]): Iterator[Attribution] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val sorted = events.toArray.sortBy(e => (micros(e.ts), e.tie))
      val out = Vector.newBuilder[Attribution]
      var touch = state.getOption.orNull
      sorted.foreach { e =>
        val tus = micros(e.ts)
        if (e.t == convType) {
          val ok = touch != null && tus - touch.tus <= gapUs
          out += Attribution(e.u, e.tie,
            if (ok) Some(touch.tie) else None,
            if (ok) Some((tus - touch.tus) / 1000000L) else None)
        }
        // a row can be both tested and a new touch only if types differ;
        // with touchType != convType the order here is irrelevant, but
        // keep touch-update AFTER the conversion test to mirror the
        // batch window's "preceding rows only" frame semantics exactly
        if (e.t == touchType) touch = TouchState(tus, e.tie)
      }
      if (sorted.nonEmpty) {
        if (touch != null) state.update(touch)
        state.setTimeoutTimestamp(sorted.last.ts.getTime + ttlMillis)
      }
      out.result().iterator
    }
  }

  /** Attribution rows over a stream carrying `u`, `ts`, `t`, `tie`. */
  def attribute(obs: DataFrame, touchType: String, convType: String,
                maxGapMinutes: Long, delay: String = "60 seconds",
                ttlMillis: Long = 86400000L): Dataset[Attribution] = {
    require(maxGapMinutes > 0, "maxGapMinutes must be positive")
    require(touchType != convType, "touch and conversion types must differ")
    import obs.sparkSession.implicits._
    obs
      .select(col("u").cast("long"), col("ts").cast("timestamp"),
        col("t").cast("string"), col("tie").cast("long"))
      .withWatermark("ts", delay)
      .as[Obs]
      .groupByKey(_.u)
      .flatMapGroupsWithState[TouchState, Attribution](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        update(touchType, convType, maxGapMinutes * 60000000L, ttlMillis))
  }
}
