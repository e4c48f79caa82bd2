package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.MeasureStream.micros

/** Streaming twin of q25's inactivity-gap sessionization: the same
  * gap>threshold split evaluated incrementally per user. Batch assigns
  * `session_id = 1 + #{gaps > threshold before this row}` in (ts, tie)
  * order; the incremental fold closes a session the moment an event
  * arrives past the gap, so on an event-ordered replay the closed
  * sessions equal the batch sessions row for row — id, bounds, and
  * event count (StreamingSessionizeSpec pins it).
  *
  * State per user: open session (index, start µs, last µs, n) — four
  * longs, bounded regardless of volume. Emits one Append row per CLOSED
  * session; the open session flushes when the event-time TTL fires
  * (watermark past last activity + gap), the streaming analogue of
  * "session ends when the user goes quiet". A flush leaves an n=0
  * TOMBSTONE carrying the session index, so a user who returns after a
  * flush continues at idx+1 — without it the renumbering would break
  * batch parity for every post-flush session. State is therefore
  * user-dim-sized (one tombstone per seen user), the same bound as the
  * batch shuffle key space.
  */
object StreamingSessionize {

  final case class Obs(u: Long, ts: Timestamp, tie: Long)
  final case class SessState(idx: Long, startTus: Long, lastTus: Long, n: Long)
  final case class Sess(u: Long, session_id: Long, start_tus: Long,
                        end_tus: Long, n_events: Long)

  private[streaming] def update(gapUs: Long)(
      key: Long,
      events: Iterator[Obs],
      state: GroupState[SessState]): Iterator[Sess] = {
    if (state.hasTimedOut) {
      // watermark passed last activity + gap: the open session is over;
      // keep an n=0 tombstone so a returning user continues at idx+1
      val st = state.get
      state.update(SessState(st.idx, st.lastTus, st.lastTus, 0L))
      Iterator.single(Sess(key, st.idx, st.startTus, st.lastTus, st.n))
    } else {
      val sorted = events.toArray.sortBy(e => (micros(e.ts), e.tie))
      val out = Vector.newBuilder[Sess]
      var st = state.getOption.orNull
      sorted.foreach { e =>
        val tus = micros(e.ts)
        st match {
          case null =>
            st = SessState(1L, tus, tus, 1L)
          case s if s.n == 0L => // tombstone: prior session already flushed
            st = SessState(s.idx + 1L, tus, tus, 1L)
          case s if tus - s.lastTus > gapUs =>
            out += Sess(key, s.idx, s.startTus, s.lastTus, s.n)
            st = SessState(s.idx + 1L, tus, tus, 1L)
          case s =>
            st = SessState(s.idx, s.startTus, tus, s.n + 1L)
        }
      }
      if (st != null) {
        state.update(st)
        if (st.n > 0L) {
          // clamp: a LATE event (within the watermark delay) can carry
          // lastTus + gap already behind the watermark, and Spark
          // rejects a timeout earlier than it — flush next tick instead
          val want = math.floorDiv(st.lastTus, 1000L) + gapUs / 1000L
          state.setTimeoutTimestamp(
            math.max(want, state.getCurrentWatermarkMs() + 1L))
        }
      }
      out.result().iterator
    }
  }

  /** Closed sessions over a stream carrying `u`, `ts`, `tie` columns.
    * `delay` is the watermark (late-data bound); the event-time TTL that
    * flushes open sessions is the gap itself.
    */
  def sessions(obs: DataFrame, gapSeconds: Long,
               delay: String = "60 seconds"): Dataset[Sess] = {
    require(gapSeconds > 0, "gap must be positive")
    import obs.sparkSession.implicits._
    obs
      .select(col("u").cast("long"), col("ts").cast("timestamp"),
        col("tie").cast("long"))
      .withWatermark("ts", delay)
      .as[Obs]
      .groupByKey(_.u)
      .flatMapGroupsWithState[SessState, Sess](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        update(gapSeconds * 1000000L))
  }
}
