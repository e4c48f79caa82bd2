package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.MeasureStream.micros

/** Streaming twin of [[graft.operators.Funnel.ordered]]: the per-user
  * stage state machine evaluated incrementally. The batch operator binds
  * each stage to the MINIMUM qualifying timestamp (strictly after the
  * previous stage's bind, optionally within `maxGapMinutes` of it); on an
  * event-ordered replay the greedy first-qualifying-event advance is
  * exactly that minimum — if the first stage-k event after the bind is
  * past the gap, every later one is too — so the set of (user, stage)
  * advancements equals the batch frontiers row for row
  * (StreamingFunnelSpec pins it, counts included).
  *
  * State per user: current stage index + its bind time (µs) — two longs,
  * bounded regardless of event volume. Emits one Append row per stage
  * advancement. An event-time TTL forgets users silent past the horizon.
  */
object StreamingFunnel {

  final case class Obs(u: Long, ts: Timestamp, t: String, tie: Long)
  final case class FunnelState(stage: Int, bindTus: Long)
  final case class Reached(u: Long, stage: Int, stage_name: String, bind_tus: Long)

  private[streaming] def update(stages: IndexedSeq[String],
                                maxGapUs: Option[Long], ttlMillis: Long)(
      key: Long,
      events: Iterator[Obs],
      state: GroupState[FunnelState]): Iterator[Reached] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val sorted = events.toArray.sortBy(e => (micros(e.ts), e.tie))
      var st = state.getOption.getOrElse(FunnelState(0, Long.MinValue))
      val out = Vector.newBuilder[Reached]
      sorted.foreach { e =>
        if (st.stage < stages.length && e.t == stages(st.stage)) {
          val tus = micros(e.ts)
          // stage 1 binds unconditionally; later stages strictly after
          // the previous bind and (optionally) within the gap
          val qualifies =
            st.stage == 0 ||
              (tus > st.bindTus && maxGapUs.forall(g => tus <= st.bindTus + g))
          if (qualifies) {
            st = FunnelState(st.stage + 1, tus)
            out += Reached(e.u, st.stage, stages(st.stage - 1), tus)
          }
        }
      }
      if (sorted.nonEmpty) {
        state.update(st)
        state.setTimeoutTimestamp(sorted.last.ts.getTime + ttlMillis)
      }
      out.result().iterator
    }
  }

  /** Stage advancements over a stream carrying `u`, `ts`, `t` (event
    * type), `tie` columns — one Append row per (user, stage) reached.
    */
  def funnel(obs: DataFrame, stages: Seq[String],
             maxGapMinutes: Option[Long] = None,
             delay: String = "60 seconds",
             ttlMillis: Long = 86400000L): Dataset[Reached] = {
    require(stages.nonEmpty, "funnel needs at least one stage")
    import obs.sparkSession.implicits._
    obs
      .select(col("u").cast("long"), col("ts").cast("timestamp"),
        col("t").cast("string"), col("tie").cast("long"))
      .withWatermark("ts", delay)
      .as[Obs]
      .groupByKey(_.u)
      .flatMapGroupsWithState[FunnelState, Reached](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        update(stages.toIndexedSeq, maxGapMinutes.map(_ * 60000000L), ttlMillis))
  }
}
