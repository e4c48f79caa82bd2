package perfbench

import scala.jdk.CollectionConverters._
import org.apache.spark.sql.DataFrame
import graft.SparkEntry

/** `board`: a panel of the declared `SparkEntry.queries`, each timed with
  * its output fully consumed (`noop` write). The panel is the same for
  * every seed and every `--seconds` — six queries evenly spaced over the
  * sorted query names — and the seed sets the order the queries run in.
  *
  * One untimed round over the panel comes first: it writes each output for
  * the calling script's DuckDB oracle comparison and warms the queries (as
  * `graft.Bench` does). Then timed rounds run the panel
  * round-robin until `--seconds` of timed passes (at least three rounds),
  * so a change of speed on the box during the window reaches every query
  * alike. A query's time is the median of its passes, as `graft.Bench`
  * reports a median of passes.
  */
object BoardRun {

  val PanelSize = 6
  val MinRounds = 3

  def panel(names: Seq[String]): Seq[String] = {
    val sorted = names.sorted
    val n = math.min(sorted.size, PanelSize)
    (0 until n).map(k => sorted(k * sorted.size / n))
  }

  def order(panel: Seq[String], seed: Long): Seq[String] = new scala.util.Random(seed).shuffle(panel)

  private def materialize(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  def run(a: Harness.Args): Map[String, Any] = {
    val spark = Harness.session(a)
    val tasks = new TaskLog
    val execs = new ExecLog
    if (a.traced) { spark.sparkContext.addSparkListener(tasks); spark.listenerManager.register(execs) }
    try {
      val queries = SparkEntry.queries
      val oracles = SparkEntry.oracleSql
      val chosen = order(panel(queries.keys.toSeq), a.seed)
      val cpu0 = Cpu.snap(0L)
      val w0 = System.currentTimeMillis()
      val setupS = (w0 - a.launchMs) / 1000.0
      val verifyDir = a.runDir.resolve("verify")
      java.nio.file.Files.createDirectories(verifyDir)
      val errors = scala.collection.mutable.LinkedHashMap.empty[String, String]
      def attempt(q: String)(body: => Unit): Unit =
        try body
        catch { case e: Exception =>
          errors.getOrElseUpdate(q, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"); () }
        finally spark.catalog.clearCache()
      chosen.foreach { q =>
        spark.sparkContext.setLocalProperty(TaskLog.QueryTag, s"untimed:$q")
        attempt(q) {
          val df = queries(q)(spark, a.boardData)
          if (oracles.contains(q)) df.coalesce(1).write.mode("overwrite").parquet(verifyDir.resolve(q).toString)
          else materialize(df)
        }
      }
      // (query, seconds, span) per timed pass
      val passes = Seq.newBuilder[(String, Double, (Long, Long))]
      var timedS = 0.0
      var rounds = 0
      while (!chosen.forall(errors.contains) && (rounds < MinRounds || timedS < a.seconds)) {
        chosen.filterNot(errors.contains).foreach { q =>
          spark.sparkContext.setLocalProperty(TaskLog.QueryTag, q)
          val startMs = System.currentTimeMillis()
          val t0 = System.nanoTime()
          attempt(q)(materialize(queries(q)(spark, a.boardData)))
          val secs = (System.nanoTime() - t0) / 1e9
          if (!errors.contains(q)) { passes += ((q, secs, (startMs, System.currentTimeMillis()))); timedS += secs }
        }
        rounds += 1
      }
      spark.sparkContext.setLocalProperty(TaskLog.QueryTag, null)
      val w1 = System.currentTimeMillis()
      val cpu1 = Cpu.snap(0L)
      val rss = Cpu.peakRssMb()
      // a fixed last action, so the heap does not hold whichever query the
      // seeded order ran last
      spark.range(1).write.format("noop").mode("overwrite").save()
      val liveHeap = Cpu.liveHeapMb()
      val withOracle = chosen.filter(q => oracles.contains(q) && !errors.contains(q))
      Json.write(verifyDir.resolve("oracle_sql.json"), withOracle.map(q => q -> oracles(q)).toMap)
      tasks.settle()

      val all = passes.result()
      val timed = chosen.filterNot(errors.contains).map { q =>
        val mine = all.filter(_._1 == q)
        (q, Stats.median(mine.map(_._2)), mine)
      }
      val secs = timed.map(_._2)
      val boardS = secs.sum
      val metrics = Map("setup_s" -> setupS, "throughput_per_s" -> timed.size / boardS,
        // per-query medians: the geometric mean weighs every query alike,
        // and the tail is the slowest query's (nearest-rank p95 of six)
        "latency_typical_ms" -> Stats.geoMean(secs) * 1000.0,
        "latency_tail_ms" -> Stats.percentile(secs, 0.95) * 1000.0, "live_heap_mb" -> liveHeap)
      val named = Map("board_s" -> boardS, "query_p50_s" -> Stats.median(secs),
        "query_p95_s" -> Stats.percentile(secs, 0.95), "queries_timed" -> timed.size,
        "timed_rounds" -> rounds, "timed_passes" -> all.size, "setup_s" -> setupS, "peak_rss_mb" -> rss)
      val perQuery = timed.map { case (q, s, mine) =>
        q -> (detail(q, mine.map(_._3), tasks, execs) ++
          Map("seconds" -> s, "passes_s" -> mine.map(_._2), "has_oracle" -> oracles.contains(q))) }
      Map("metrics" -> metrics, "named" -> named,
        "layers" -> (if (a.traced) layers(perQuery.map(_._2), all.map(_._3), a.cpus, tasks) else Map.empty),
        "attempted" -> chosen.size, "failed" -> errors.size,
        "failures" -> errors.map { case (q, e) => s"$q threw $e" }.toSeq,
        "panel" -> chosen, "oracle_dir" -> verifyDir.toString, "board_data" -> a.boardData,
        "queries" -> perQuery.toMap, "window_ms" -> Seq(w0, w1), "cpu_window" -> Cpu.cores(cpu0, cpu1))
    } finally spark.stop()
  }

  /** One query's counters per timed pass. */
  private def detail(q: String, spans: Seq[(Long, Long)], tasks: TaskLog,
                     execs: ExecLog): Map[String, Double] = {
    val n = math.max(1, spans.size).toDouble
    val ts = tasks.tasks.asScala.filter(_.query == q)
    val es = execs.execs.asScala.filter(e => spans.exists { case (a, b) => e.atMs >= a && e.atMs <= b })
    Map("planning_ms" -> es.map(_.planningMs).sum / n, "exchanges" -> es.map(_.exchanges).sum / n,
      "jobs" -> tasks.jobs.asScala.count(_._2 == q) / n,
      "stages" -> tasks.stages.asScala.count(_._2 == q) / n, "tasks" -> ts.size / n,
      "shuffle_mb" -> ts.map(_.shuffleBytes).sum / 1e6 / n, "spill_mb" -> ts.map(_.spillBytes).sum / 1e6 / n,
      "cpu_s" -> ts.map(_.cpuNs).sum / 1e9 / n, "gc_s" -> ts.map(_.gcMs).sum / 1e3 / n)
  }

  private def layers(qs: Seq[Map[String, Any]], spans: Seq[(Long, Long)], cpus: Int,
                     tasks: TaskLog): Map[String, Double] = {
    def col(k: String) = qs.map(_(k).asInstanceOf[Double])
    // core time with a timed query's task running, over the timed spans only
    val timedTags = tasks.tasks.asScala.filterNot(_.query.startsWith("untimed:"))
    val busyMs = timedTags.filter(t => spans.exists { case (a, b) => t.endMs >= a && t.endMs <= b })
      .map(_.durationMs).sum
    val spanMs = spans.map { case (a, b) => (b - a).toDouble }.sum
    Map("queries.planning_ms_p50" -> Stats.median(col("planning_ms")),
      "queries.jobs_p50" -> Stats.median(col("jobs")), "queries.jobs_total" -> col("jobs").sum,
      "queries.stages_total" -> col("stages").sum, "queries.tasks_total" -> col("tasks").sum,
      "queries.exchanges_total" -> col("exchanges").sum, "queries.shuffle_mb" -> col("shuffle_mb").sum,
      "queries.spill_mb" -> col("spill_mb").sum, "queries.cpu_s" -> col("cpu_s").sum,
      "queries.gc_s" -> col("gc_s").sum,
      "queries.core_idle_frac" -> math.max(0.0, 1.0 - busyMs / math.max(1.0, spanMs * cpus)))
  }
}
