package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** T3 — the per-server silence watchdog (reference
  * `Services/OpcSubscribeService.cs:40-42,809-847`): a 3-minute
  * AutoReset=false timer per server URL; any notification re-arms it; on
  * elapse every device of that server is marked offline (`:980-997`) and
  * the connector reconnects.
  *
  * Here: `flatMapGroupsWithState` keyed by server with an event-time
  * timeout (same determinism argument as [[Liveness]]). Reconnection is
  * the source connector's job (graft.sources); this operator only emits
  * the silence events that drive the offline fan-out —
  * [[IngestPipeline.watchdogQuery]] joins them with the (device, server)
  * dim (broadcast, the dim is tiny) into per-device myPV_online=0 rows.
  */
object ServerWatchdog {

  val ServerTimeoutMs: Long = 180000L // 3 min, Services/OpcSubscribeService.cs:42

  final case class ServerPing(server: String, source_ts: Timestamp)
  final case class ServerState(lastSeenMs: Long)
  final case class SilenceEvent(server: String, silent_since: Timestamp)

  def update(server: String, pings: Iterator[ServerPing],
             state: GroupState[ServerState]): Iterator[SilenceEvent] = {
    if (state.hasTimedOut) {
      val last = state.get.lastSeenMs
      state.remove() // AutoReset=false: one shot until traffic returns
      Iterator.single(SilenceEvent(server, new Timestamp(last)))
    } else {
      val maxMs = pings.map(_.source_ts.getTime).maxOption
        .getOrElse(state.getOption.map(_.lastSeenMs).getOrElse(0L))
      state.update(ServerState(maxMs))
      state.setTimeoutTimestamp(maxMs + ServerTimeoutMs)
      Iterator.empty
    }
  }

  /** Measure stream (with a `server` column) → silence events. */
  def silenceEvents(measures: DataFrame): Dataset[SilenceEvent] = {
    import measures.sparkSession.implicits._
    measures
      .withWatermark("source_ts", "180 seconds")
      .select(col("server"), col("source_ts")).as[ServerPing]
      .groupByKey(_.server)
      .flatMapGroupsWithState[ServerState, SilenceEvent](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(update)
  }
}
