package perfbench

import graft.streaming.Liveness

/** What `modvalues` must hold after the pipeline has committed the
  * admitted element ranges of a run, computed from the feed's pure element
  * function alone.
  *
  * Value rows: the sink upserts, per micro-batch, the newest good element
  * of each key, so the final row of a key is the newest good element of the
  * last batch that held one. Redeliveries never reach the sink (dedup drops
  * them while their original is inside the watermark, and they carry the
  * original's content anyway), so they are skipped. Within the ranges of
  * one feed, non-redelivered elements are created in index order, so the
  * newest good element of a key is the one with the highest index.
  *
  * Online rows: a device's flag is 1 when its last batch with any element
  * held a good one, else 0; the event-time timeout turns it to 0 when the
  * liveness watermark passed the newest event of that batch plus 60 s.
  */
object Oracle {

  final case class Expected(value: Double, micros: Long)

  final case class Table(values: Map[(String, String), Expected], online: Map[String, Double])

  /** `valueBatches` / `livenessBatches`: the admitted [lo, hi) ranges of
    * the two queries, in commit order (empty ones allowed).
    * `livenessWatermarkMs`: the watermark the liveness query's last batch ran with.
    */
  def expected(feed: BenchFeed, valueBatches: Seq[(Long, Long)],
               livenessBatches: Seq[(Long, Long)], livenessWatermarkMs: Long): Table = {
    val values = scala.collection.mutable.HashMap.empty[(String, String), Expected]
    newestFirst(feed, valueBatches) { (_, i) =>
      val (dev, m, v, ts, ok) = feed.element(i)
      if (ok && !values.contains((dev, m))) values((dev, m)) = Expected(v, ts)
    }
    val lastBatchOfDevice = scala.collection.mutable.HashMap.empty[String, Int]
    val deviceGood = scala.collection.mutable.HashMap.empty[String, Boolean]
    val deviceMaxTs = scala.collection.mutable.HashMap.empty[String, Long]
    newestFirst(feed, livenessBatches) { (b, i) =>
      val (dev, _, _, ts, ok) = feed.element(i)
      if (lastBatchOfDevice.getOrElseUpdate(dev, b) == b) {
        deviceGood(dev) = deviceGood.getOrElse(dev, false) || ok
        deviceMaxTs(dev) = math.max(deviceMaxTs.getOrElse(dev, Long.MinValue), ts)
      }
    }
    val timeoutMs = Liveness.DeviceTimeoutMicros / 1000L
    val online = lastBatchOfDevice.keys.map { dev =>
      val timedOut = livenessWatermarkMs > deviceMaxTs(dev) / 1000L + timeoutMs
      dev -> (if (deviceGood(dev) && !timedOut) 1.0 else 0.0)
    }.toMap
    Table(values.toMap, online)
  }

  /** Visit the non-redelivered elements of `batches`, newest batch and
    * highest index first, with their batch number.
    */
  private def newestFirst(feed: BenchFeed, batches: Seq[(Long, Long)])(f: (Int, Long) => Unit): Unit =
    batches.zipWithIndex.reverseIterator.foreach { case ((lo, hi), b) =>
      var i = hi - 1
      while (i >= lo) { if (!feed.isDuplicate(i)) f(b, i); i -= 1 }
    }

  /** `ScalarOps.lastUpdatedString` of an epoch-micros instant. */
  def lastUpdated(micros: Long): String = {
    val inst = java.time.Instant.ofEpochSecond(Math.floorDiv(micros, 1000000L),
      Math.floorMod(micros, 1000000L) * 1000L)
    java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
      .withZone(java.time.ZoneOffset.UTC).format(inst)
  }

  /** One row of the final table as read back from Postgres. */
  final case class Row(device: String, measure: String, tagValue: Double,
                       measureValue: Double, lastUpdated: String)

  /** Keys whose final row differs from `want`. Value rows compare at the
    * REAL column's single precision; `heartbeatStamps` are the instants
    * heartbeat UPDATEs wrote, which legitimately replace last_updated.
    */
  def mismatches(want: Table, got: Seq[Row], heartbeatStamps: Set[String]): Seq[String] = {
    val byKey = got.map(r => (r.device, r.measure) -> r).toMap
    val online = graft.operators.CurrentValues.OnlineMeasure
    val valueErrs = want.values.toSeq.flatMap { case ((dev, m), e) =>
      byKey.get((dev, m)) match {
        case None => Some(s"$dev/$m: missing")
        case Some(r) =>
          val f = e.value.toFloat
          val ts = lastUpdated(e.micros)
          if (r.tagValue.toFloat != f || r.measureValue.toFloat != f)
            Some(s"$dev/$m: value ${r.tagValue} want $f")
          else if (r.lastUpdated != ts && !heartbeatStamps.contains(r.lastUpdated))
            Some(s"$dev/$m: last_updated ${r.lastUpdated} want $ts")
          else None
      }
    }
    val onlineErrs = want.online.toSeq.flatMap { case (dev, flag) =>
      byKey.get((dev, online)) match {
        case None => Some(s"$dev: no $online row")
        case Some(r) if r.measureValue != flag => Some(s"$dev: $online ${r.measureValue} want $flag")
        case _ => None
      }
    }
    val extra = got.filter(r => r.measure != online && !want.values.contains((r.device, r.measure)))
      .filter(r => r.tagValue != 0.0 || r.measureValue != 0.0)
      .map(r => s"${r.device}/${r.measure}: unexpected value row")
    (valueErrs ++ onlineErrs ++ extra).sorted
  }
}
