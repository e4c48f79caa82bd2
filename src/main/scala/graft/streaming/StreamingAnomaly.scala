package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.MeasureStream.micros

/** Streaming twin of [[graft.operators.Historian.rollingAnomalies]]: the
  * same integer-only z² test — (n·q − S)² > k²·(n·S2 − S²) over the
  * trailing `lookback` observations, baseline EXCLUDING the observation
  * under test — evaluated incrementally per device with
  * flatMapGroupsWithState. Batch and stream agree exactly on the same
  * observations (AnomalyParitySpec pins it): the state is the last
  * `lookback` quantized values in arrival order, so replaying the log
  * through the stream reproduces the batch window semantics row for row.
  *
  * Scale: state is ≤ `lookback` longs + a cursor per DEVICE (bounded,
  * sharded by key across executors; RocksDB state store in production).
  * Within-batch order is pinned by (event µs, tiebreak) sort — partition
  * arrival order never leaks into results. An event-time TTL forgets
  * devices silent past the horizon (the StreamingDedup contract).
  */
object StreamingAnomaly {

  final case class Obs(k: Long, ts: Timestamp, q: Long, tie: Long)
  final case class Flagged(k: Long, tie: Long, q: Long, n: Long,
                           dev2: Long, bound: Long)
  final case class RingState(vals: Vector[Long], lastTus: Long)

  private[streaming] def update(lookback: Int, minN: Int, k2: Long,
                                ttlMillis: Long)(
      key: Long,
      events: Iterator[Obs],
      state: GroupState[RingState]): Iterator[Flagged] = {
    if (state.hasTimedOut) {
      state.remove()
      Iterator.empty
    } else {
      val sorted = events.toArray.sortBy(e => (micros(e.ts), e.tie))
      var ring = state.getOption.map(_.vals).getOrElse(Vector.empty)
      val out = Vector.newBuilder[Flagged]
      sorted.foreach { e =>
        val n = ring.length.toLong
        if (n >= minN) {
          val s = ring.sum
          val s2 = ring.map(v => v * v).sum
          val dev = n * e.q - s
          val dev2 = dev * dev
          val bound = k2 * (n * s2 - s * s)
          if (dev2 > bound) out += Flagged(e.k, e.tie, e.q, n, dev2, bound)
        }
        ring = (ring :+ e.q).takeRight(lookback)
      }
      if (sorted.nonEmpty) {
        state.update(RingState(ring, micros(sorted.last.ts)))
        // timeout API is ms-granular; µs precision matters only for
        // within-batch ordering, not the TTL horizon
        state.setTimeoutTimestamp(sorted.last.ts.getTime + ttlMillis)
      }
      out.result().iterator
    }
  }

  /** Flagged anomalies over a measure stream carrying `k`, `ts`, `value`,
    * `tie` columns. Quantization (round_even(v·2¹⁰)) matches the batch
    * operator exactly.
    */
  def anomalies(obs: DataFrame, lookback: Int = 20, minN: Int = 8,
                kSigma: Int = 3, delay: String = "60 seconds",
                ttlMillis: Long = 3600000L): Dataset[Flagged] = {
    import obs.sparkSession.implicits._
    obs
      .select(col("k").cast("long"), col("ts").cast("timestamp"),
        bround(col("value") * lit(1024), 0).cast("long").as("q"),
        col("tie").cast("long"))
      .withWatermark("ts", delay)
      .as[Obs]
      .groupByKey(_.k)
      .flatMapGroupsWithState[RingState, Flagged](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout())(
        update(lookback, minN, kSigma.toLong * kSigma, ttlMillis))
  }
}
