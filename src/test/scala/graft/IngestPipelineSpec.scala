package graft

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.CurrentValues
import graft.streaming._
import graft.streaming.CurrentValuesSink.InMemoryTarget

/** End-to-end data path (SURVEY.md §3.1): source → gates → dedup → split
  * value/liveness paths → keyed upserts into one modvalues-shaped target.
  */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)

  test("memory-stream pipeline: values scaled+upserted, liveness flags derived, dedup applied") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MeasureEvent]
    val target = new InMemoryTarget
    val handle = IngestPipeline.start(input.toDF(), target, slope = 2.0, offset = 1.0,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
    try {
      val e1 = MeasureEvent("d1", "temp", 4.0, ts("2024-01-01 00:00:01"), status_ok = true)
      input.addData(e1, e1, // duplicate dropped by T8
        MeasureEvent("d1", "temp", 6.0, ts("2024-01-01 00:00:09"), status_ok = true),
        MeasureEvent("d2", "rpm", 3.0, ts("2024-01-01 00:00:09"), status_ok = false),
        MeasureEvent("d1", CurrentValues.OnlineMeasure, 9.9,
          ts("2024-01-01 00:00:10"), status_ok = true)) // F3: never subscribable
      handle.processAllAvailable()

      val snap = target.snapshot.map(r => (r.device, r.measure_name) -> r).toMap
      // value path: last-writer-wins, slope_intercept scaling 2v+1
      val d1temp = snap(("d1", "temp"))
      assert(d1temp.tag_value == 6.0)
      assert(d1temp.measure_value == 13.0)
      assert(d1temp.last_updated == "2024-01-01T00:00:09.000000")
      // bad-status value never lands in the value table
      assert(!snap.contains(("d2", "rpm")))
      // F3: the pseudo-measure was filtered before the sink
      assert(snap(("d1", CurrentValues.OnlineMeasure)).tag_value != 9.9)
      // liveness path: good d1 → online 1, bad-status d2 → online 0
      assert(snap(("d1", CurrentValues.OnlineMeasure)).measure_value == 1.0)
      assert(snap(("d2", CurrentValues.OnlineMeasure)).measure_value == 0.0)
    } finally handle.stop()
  }

  test("both queries count exactly the injected redeliveries as dropped duplicates") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MeasureEvent]
    val target = new InMemoryTarget
    val handle = IngestPipeline.start(input.toDF(), target,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
    def dropped(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
      q.recentProgress.flatMap(_.stateOperators)
        .flatMap(op => Option(op.customMetrics.get("numDroppedDuplicateRows")))
        .map(_.longValue).sum
    try {
      var injected = 0
      var previous = Seq.empty[MeasureEvent]
      (0 until 4).foreach { b =>
        val fresh = for (d <- 0 until 20; m <- Seq("temp", "rpm"))
          yield MeasureEvent(s"d$d", m, (b * 100 + d).toDouble,
            ts(s"2024-01-01 00:00:1$b"), status_ok = d % 5 != 0)
        // redeliver every third event of this batch and every fourth of the last
        val redelivered = fresh.zipWithIndex.collect { case (e, i) if i % 3 == 0 => e } ++
          previous.zipWithIndex.collect { case (e, i) if i % 4 == 0 => e }
        injected += redelivered.size
        input.addData(new scala.util.Random(b).shuffle(fresh ++ redelivered): _*)
        handle.processAllAvailable()
        previous = fresh
      }
      assert(dropped(handle.livenessQuery) == injected)
      assert(dropped(handle.valueQuery) == injected)
    } finally { handle.stop(); target.close() }
  }

  test("ReferenceFreshness profile: same pipeline semantics, 10 s dedup horizon (r12 verdict #8)") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MeasureEvent]
    val target = new InMemoryTarget
    val handle = IngestPipeline.start(input.toDF(), target, 2.0, 1.0,
      IngestProfile.ReferenceFreshness.copy(
        trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds")),
      None)
    try {
      val e1 = MeasureEvent("d1", "temp", 4.0, ts("2024-01-01 00:00:01"), status_ok = true)
      input.addData(e1, e1, // duplicate inside the 10 s horizon: dropped
        MeasureEvent("d1", "temp", 6.0, ts("2024-01-01 00:00:09"), status_ok = true),
        MeasureEvent("d2", "rpm", 3.0, ts("2024-01-01 00:00:09"), status_ok = false))
      handle.processAllAvailable()
      val snap = target.snapshot.map(r => (r.device, r.measure_name) -> r).toMap
      val d1temp = snap(("d1", "temp"))
      assert(d1temp.tag_value == 6.0 && d1temp.measure_value == 13.0)
      assert(!snap.contains(("d2", "rpm")))
      assert(snap(("d1", CurrentValues.OnlineMeasure)).measure_value == 1.0)
      assert(snap(("d2", CurrentValues.OnlineMeasure)).measure_value == 0.0)
    } finally handle.stop()
    assert(IngestProfile.byName("fresh") == IngestProfile.ReferenceFreshness)
    assert(IngestProfile.byName("default") == IngestProfile.Default)
    assertThrows[IllegalArgumentException](IngestProfile.byName("nope"))
  }

  test("startScaled: per-point scale_mode scaling end-to-end through the pipeline") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[MeasureEvent]
    val target = new InMemoryTarget
    val scaling = Seq(
      ("d1", "temp", "slope_intercept", 2.0, 1.0, 0.0, 0.0, 0.0, 0.0),
      ("d1", "pct", "point_slope", 1.0, 0.0, 0.0, 10.0, 0.0, 100.0))
      .toDF("device", "measure_name", "scale_mode", "slope", "offset",
        "value_min", "value_max", "target_min", "target_max")
    val handle = IngestPipeline.startScaled(input.toDF(), target, scaling,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
    try {
      input.addData(
        MeasureEvent("d1", "temp", 4.0, ts("2024-01-01 00:00:01"), status_ok = true),
        MeasureEvent("d1", "pct", 2.5, ts("2024-01-01 00:00:01"), status_ok = true))
      handle.processAllAvailable()
      val byMeasure = target.snapshot
        .map(r => r.measure_name -> r.measure_value).toMap
      assert(byMeasure("temp") == 9.0)   // C1 per-point: 4*2 + 1
      assert(byMeasure("pct") == 25.0)   // C2 per-point: 10x range remap
    } finally { handle.stop(); target.close() }
  }

  test("heartbeat query bumps last_updated only for online devices (K4/T1)") {
    import graft.streaming.CurrentValuesSink.ModRow
    val target = new InMemoryTarget
    target.upsert(Seq(
      ModRow("d1", "temp", 1.0, 1.0, "T0"),
      ModRow("d1", CurrentValues.OnlineMeasure, 1.0, 1.0, "T0"),
      ModRow("d2", "temp", 2.0, 2.0, "T0"),
      ModRow("d2", CurrentValues.OnlineMeasure, 0.0, 0.0, "T0")))
    val q = IngestPipeline.heartbeatQuery(spark, target,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"),
      now = () => ts("2024-06-01 12:00:00"))
    try {
      val deadline = System.currentTimeMillis() + 30000
      def bumped = target.snapshot.exists(r => r.device == "d1" && r.last_updated != "T0")
      while (!bumped && System.currentTimeMillis() < deadline) Thread.sleep(100)
      val snap = target.snapshot
      assert(snap.filter(_.device == "d1")
        .forall(_.last_updated == "2024-06-01T12:00:00.000000"))
      assert(snap.filter(_.device == "d2").forall(_.last_updated == "T0"))
    } finally q.stop()
  }

  test("server watchdog fan-out: 3 min silence marks every device of that server offline (T3)") {
    import graft.streaming.CurrentValuesSink.ModRow
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, Timestamp)]
    val withServer = input.toDF().toDF("server", "source_ts")
    val target = new InMemoryTarget
    target.upsert(Seq(
      ModRow("d1", CurrentValues.OnlineMeasure, 1.0, 1.0, "T0"),
      ModRow("d2", CurrentValues.OnlineMeasure, 1.0, 1.0, "T0"),
      ModRow("d3", CurrentValues.OnlineMeasure, 1.0, 1.0, "T0")))
    val q = IngestPipeline.watchdogQuery(withServer,
      Seq(("d1", "s1"), ("d2", "s1"), ("d3", "s2")), target,
      trigger = org.apache.spark.sql.streaming.Trigger.ProcessingTime("0 seconds"))
    try {
      input.addData(("s1", ts("2024-01-01 00:00:00")), ("s2", ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      // s2 keeps talking; s1 silent past 3 min; extra batch flushes timeout
      input.addData(("s2", ts("2024-01-01 00:04:00")))
      q.processAllAvailable()
      input.addData(("s2", ts("2024-01-01 00:08:00")))
      q.processAllAvailable()
      val online = target.snapshot.map(r => r.device -> r.measure_value).toMap
      assert(online("d1") == 0.0 && online("d2") == 0.0) // s1 devices offline
      assert(online("d3") == 1.0)                        // s2 device untouched
    } finally q.stop()
  }

  test("DataSource V2 pipeline: simulated source feeds both paths to the target") {
    val target = new InMemoryTarget
    val handle = IngestPipeline.startFromSource(spark, target, nDevices = 3, nMeasures = 2)
    try {
      val deadline = System.currentTimeMillis() + 60000
      def valueRows = target.snapshot.count(_.measure_name != CurrentValues.OnlineMeasure)
      def onlineRows = target.snapshot.count(_.measure_name == CurrentValues.OnlineMeasure)
      while ((valueRows < 6 || onlineRows < 3) && System.currentTimeMillis() < deadline)
        Thread.sleep(250)
      assert(valueRows == 6)   // 3 devices × 2 measures, keyed (no duplicates)
      assert(onlineRows == 3)  // one myPV_online row per device
      assert(target.snapshot.forall(r => r.device.startsWith("dev-")))
    } finally handle.stop()
  }
}
