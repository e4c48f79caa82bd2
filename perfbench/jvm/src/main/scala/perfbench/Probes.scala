package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.streaming.CurrentValuesSink.{ModRow, UpsertTarget}

/** What the probes saw. Static, like the program's own in-memory target
  * registry: in `local[N]` the executors share this JVM, so the decorators
  * deserialised inside `foreachPartition` closures reach the same log.
  */
object SinkLog {
  /** (source micros, upsert-returned micros) per committed value row. */
  val valueRows = new ConcurrentLinkedQueue[(Long, Long)]()
  /** device → first instant an online = 0 row for it was committed. */
  val offlineAt = new java.util.concurrent.ConcurrentHashMap[String, java.lang.Long]()
  /** last_updated stamps written by heartbeat UPDATEs. */
  val heartbeatStamps = new ConcurrentLinkedQueue[String]()

  // traced only
  val failedCalls = new AtomicLong()
  /** (end micros, duration ns, rows) per upsert call */
  val callNs = new ConcurrentLinkedQueue[(Long, Long, Int)]()
  val heartbeatNs = new ConcurrentLinkedQueue[java.lang.Long]()
  /** (end micros, duration ns) per connection opened */
  val connects = new ConcurrentLinkedQueue[(Long, Long)]()
}

/** Decorator around the sink's [[UpsertTarget]]. Always records each value
  * row's source time and the instant its upsert transaction returned (the
  * freshness metric); with `traced` it also counts calls, rows and time.
  */
final class SinkProbe(inner: UpsertTarget, traced: Boolean) extends UpsertTarget {
  import SinkLog._

  override def upsertPartition(it: Iterator[ModRow]): Unit = {
    val batch = it.toVector
    val t0 = System.nanoTime()
    try inner.upsertPartition(batch.iterator)
    catch { case e: Throwable => if (traced) failedCalls.incrementAndGet(); throw e }
    val dt = System.nanoTime() - t0
    val done = Clock.nowMicros()
    val online = graft.operators.CurrentValues.OnlineMeasure
    batch.foreach { r =>
      if (r.measure_name != online) valueRows.add((SinkProbe.micros(r.last_updated), done))
      else if (r.measure_value == 0.0) offlineAt.putIfAbsent(r.device, done)
    }
    if (traced && batch.nonEmpty) callNs.add((done, dt, batch.size))
  }

  override def seed(keys: Seq[(String, String)], nowS: String): Unit = inner.seed(keys, nowS)
  override def offlineReset(nowS: String): Unit = inner.offlineReset(nowS)
  override def heartbeat(nowS: String): Unit = {
    heartbeatStamps.add(nowS)
    val t0 = System.nanoTime()
    inner.heartbeat(nowS)
    if (traced) heartbeatNs.add(System.nanoTime() - t0)
  }
}

object SinkProbe {
  private val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSSSS")
  def micros(lastUpdated: String): Long = {
    val t = java.time.LocalDateTime.parse(lastUpdated, fmt).toInstant(java.time.ZoneOffset.UTC)
    t.getEpochSecond * 1000000L + t.getNano / 1000L
  }

  /** The connection factory handed to `JdbcUpsert.Target`, counting
    * connections and their set-up time when traced. Captures only the
    * serialisable port and flag.
    */
  def connector(port: Int, db: String, traced: Boolean): () => java.sql.Connection = () => {
    val t0 = System.nanoTime()
    val c = graft.control.PgWire.connect("127.0.0.1", port, "postgres", db)
    if (traced) SinkLog.connects.add((Clock.nowMicros(), System.nanoTime() - t0))
    c
  }
}

/** Every streaming progress event, by query name. */
final class ProgressLog extends StreamingQueryListener {
  val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = events.add(e.progress)

  /** Completed batches of one query, one per batch id, in order. */
  def batches(name: String): Seq[StreamingQueryProgress] =
    events.asScala.toSeq.filter(_.name == name).groupBy(_.batchId)
      .values.map(_.maxBy(_.numInputRows)).toSeq.sortBy(_.batchId)
}

/** Task, stage and job counters from Spark's public listener bus. */
final class TaskLog extends SparkListener {
  import TaskLog.Task
  val tasks = new ConcurrentLinkedQueue[Task]()
  /** (job start ms, query tag) */
  val jobs = new ConcurrentLinkedQueue[(Long, String)]()
  val stages = new ConcurrentLinkedQueue[(Long, String)]()
  private val stageQuery = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  @volatile var lastEventMs: Long = System.currentTimeMillis()

  private def tag(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty(TaskLog.QueryTag))).getOrElse("")

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val q = tag(e.properties)
    e.stageIds.foreach(s => stageQuery.put(s, q))
    jobs.add((e.time, q)); lastEventMs = System.currentTimeMillis()
  }
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    stages.add((e.stageInfo.completionTime.getOrElse(0L),
      stageQuery.getOrDefault(e.stageInfo.stageId, "")))
    lastEventMs = System.currentTimeMillis()
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) tasks.add(Task(e.taskInfo.finishTime, e.taskInfo.duration,
      m.executorCpuTime, m.jvmGCTime, m.shuffleWriteMetrics.bytesWritten,
      m.shuffleWriteMetrics.recordsWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
      stageQuery.getOrDefault(e.stageId, "")))
    lastEventMs = System.currentTimeMillis()
  }

  /** Wait until the asynchronous listener bus has been quiet for a while. */
  def settle(quietMs: Long = 400L, maxMs: Long = 5000L): Unit = {
    val deadline = System.currentTimeMillis() + maxMs
    while (System.currentTimeMillis() - lastEventMs < quietMs && System.currentTimeMillis() < deadline)
      Thread.sleep(50)
  }
}

object TaskLog {
  final case class Task(endMs: Long, durationMs: Long, cpuNs: Long, gcMs: Long,
                        shuffleBytes: Long, shuffleRecords: Long, spillBytes: Long,
                        query: String)
  /** Local property naming the board query a job belongs to. */
  val QueryTag = "perfbench.query"
}

/** SQL executions: count, planning time and exchanges of the final plan. */
final class ExecLog extends QueryExecutionListener {
  import ExecLog.Exec
  val execs = new ConcurrentLinkedQueue[Exec]()

  // runs on the listener bus thread, so the execution is placed in time by
  // its own planning phase rather than by a caller-thread property
  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planning = qe.tracker.phases.get("planning")
    execs.add(Exec(planning.map(_.endTimeMs).getOrElse(System.currentTimeMillis()),
      planning.map(_.durationMs.toDouble).getOrElse(0.0), ExecLog.exchanges(qe.executedPlan)))
  }
  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

object ExecLog {
  final case class Exec(atMs: Long, planningMs: Double, exchanges: Int)
  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike

  /** Shuffle exchanges in an executed plan: the final AQE plan when
    * adaptive, each stage counted once, subqueries included.
    */
  def exchanges(plan: SparkPlan): Int = plan match {
    case a: AdaptiveSparkPlanExec => exchanges(a.executedPlan)
    case q: QueryStageExec => exchanges(q.plan)
    case e: ShuffleExchangeLike => 1 + e.children.map(exchanges).sum
    case p => p.children.map(exchanges).sum + p.subqueries.map(exchanges).sum
  }
}

/** CPU time from /proc in USER_HZ jiffies: the whole box, and given pids. */
object Cpu {
  val Hz = 100.0

  private def read(p: String): Option[String] =
    try Some(new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))))
    catch { case _: java.io.IOException => None }

  private def cpuLine(): Array[Long] = read("/proc/stat")
    .map(_.linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)).getOrElse(Array.fill(8)(0L))

  /** Busy jiffies of the whole box (all but idle and iowait; steal included). */
  def boxBusy(): Long = { val f = cpuLine(); f.sum - f(3) - (if (f.length > 4) f(4) else 0L) }

  /** Jiffies the hypervisor gave to other guests. */
  def steal(): Long = { val f = cpuLine(); if (f.length > 7) f(7) else 0L }

  def procJiffies(pid: Long): Long = read(s"/proc/$pid/stat").map { s =>
    val rest = s.substring(s.lastIndexOf(')') + 2).split(" ")
    rest(11).toLong + rest(12).toLong
  }.getOrElse(0L)

  /** Pids of running Postgres server processes. */
  def postgresPids(): Seq[Long] =
    Option(new java.io.File("/proc").listFiles()).toSeq.flatten
      .filter(_.getName.forall(_.isDigit))
      .filter(d => read(s"${d.getPath}/comm").exists(_.trim == "postgres"))
      .map(_.getName.toLong)

  def selfPid: Long = ProcessHandle.current().pid()

  /** Peak resident set of this JVM, MB. */
  def peakRssMb(): Double = read("/proc/self/status").flatMap { s =>
    s.linesIterator.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble / 1024.0)
  }.getOrElse(Double.NaN)

  /** Heap still reachable after a full collection, MB: retained state
    * (state stores, caches, registries), steadier than resident size,
    * which follows the collector's heap sizing.
    */
  def liveHeapMb(): Double = {
    // the second collection frees what the first one's reference processing
    // (Spark's context cleaner, finalizers) released
    System.gc(); Thread.sleep(200); System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Snapshot of (box, self, generator, postgres) jiffies. */
  final case class Snap(atNs: Long, box: Long, steal: Long, self: Long, gen: Long, pg: Long)
  def snap(genPid: Long): Snap =
    Snap(System.nanoTime(), boxBusy(), steal(), procJiffies(selfPid),
      if (genPid > 0) procJiffies(genPid) else 0L, postgresPids().map(procJiffies).sum)

  /** Cores used during [a, b]: per component and foreign (box minus ours). */
  def cores(a: Snap, b: Snap): Map[String, Double] = {
    val sec = math.max(1e-9, (b.atNs - a.atNs) / 1e9)
    def c(x: Long) = x / Hz / sec
    val self = c(b.self - a.self); val gen = c(b.gen - a.gen); val pg = c(b.pg - a.pg)
    Map("box_cores" -> c(b.box - a.box), "jvm_cores" -> self, "generator_cores" -> gen,
      "postgres_cores" -> pg, "steal_cores" -> c(b.steal - a.steal),
      "foreign_cores" -> math.max(0.0, c(b.box - a.box) - self - gen - pg))
  }
}
