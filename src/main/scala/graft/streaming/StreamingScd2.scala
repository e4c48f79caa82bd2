package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.streaming.MeasureStream.micros

/** Streaming twin of [[graft.operators.Scd2.intervals]]: the
  * slowly-changing-dimension type-2 build evaluated incrementally. The
  * batch operator collapses a (ts, tie)-ordered observation log into
  * maximal equal-state runs; the incremental fold holds exactly the open
  * run — state value, its start µs, observation count — and closes it
  * the moment a different state arrives, stamping `valid_to` with the
  * successor's start the way the batch `lead(valid_from)` does. On an
  * event-ordered replay the closed intervals equal the batch intervals
  * with non-null `valid_to` row for row, and the per-key open state is
  * the batch's null-`valid_to` row (StreamingScd2Spec pins both by
  * closing every key with a sentinel state change).
  *
  * State per key: one (string, long, long) — the CURRENT dimension row,
  * which is the product, so state is entity-dim-sized by design and
  * there is no TTL: evicting it would forget the current version.
  */
object StreamingScd2 {

  final case class Obs(k: Long, ts: Timestamp, state: String, tie: Long)
  final case class RunState(state: String, fromTus: Long, n: Long)
  final case class Closed(k: Long, state: String, valid_from_tus: Long,
                          valid_to_tus: Long, n_obs: Long)

  private[streaming] def update(
      key: Long,
      events: Iterator[Obs],
      state: GroupState[RunState]): Iterator[Closed] = {
    val sorted = events.toArray.sortBy(e => (micros(e.ts), e.tie))
    val out = Vector.newBuilder[Closed]
    var st = state.getOption.orNull
    sorted.foreach { e =>
      val tus = micros(e.ts)
      st match {
        case null =>
          st = RunState(e.state, tus, 1L)
        case s if s.state == e.state =>
          st = RunState(s.state, s.fromTus, s.n + 1L)
        case s =>
          out += Closed(key, s.state, s.fromTus, tus, s.n)
          st = RunState(e.state, tus, 1L)
      }
    }
    if (st != null) state.update(st)
    out.result().iterator
  }

  /** Closed SCD-2 intervals over a stream carrying `k`, `ts`, `state`,
    * `tie` columns; the open (current) interval per key lives in state.
    */
  def intervals(obs: DataFrame,
                delay: String = "60 seconds"): Dataset[Closed] = {
    import obs.sparkSession.implicits._
    obs
      .select(col("k").cast("long"), col("ts").cast("timestamp"),
        col("state").cast("string"), col("tie").cast("long"))
      .withWatermark("ts", delay)
      .as[Obs]
      .groupByKey(_.k)
      .flatMapGroupsWithState[RunState, Closed](
        OutputMode.Append(), GroupStateTimeout.NoTimeout())(update)
  }
}
