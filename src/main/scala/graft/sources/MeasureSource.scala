package graft.sources

import java.util
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String
import graft.streaming.MeasureStream

/** S1 — the OPC UA subscription source as a DataSource V2 micro-batch
  * stream (SURVEY.md §2.1). Registered as format "measure-sim":
  *
  * {{{
  * spark.readStream.format("graft.sources.MeasureSourceProvider")
  *   .option("nDevices", 10).option("nMeasures", 3)
  *   .option("maxRowsPerTrigger", 1000).load()
  * }}}
  *
  * Offset = one monotone sequence number over the feed's append-only log
  * (replayable: a restarted query re-reads the same [start, end) range and
  * gets identical rows — the at-least-once + idempotent-MERGE story of
  * SURVEY.md §7.4).
  *
  * T6 — the per-item bounded queue (QueueSize=10 discard-oldest,
  * `Services/OpcSubscribeService.cs:236-237`) maps to `maxRowsPerTrigger`
  * admission plus `queueCapacity`: if the backlog exceeds
  * queueCapacity × items, the planner DROPS the oldest surplus (advances
  * the start offset), exactly like the server discarding old queue entries.
  *
  * Scale: planInputPartitions splits the range into `numPartitions` even
  * slices; each PartitionReader regenerates its slice executor-side from
  * the pure feed function — nothing is buffered on the driver, so 1000
  * executors read 1000 disjoint slices with zero driver memory.
  */
class MeasureSourceProvider extends TableProvider {
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    MeasureStream.schemaWithSeq
  override def getTable(schema: StructType, partitioning: Array[Transform],
                        properties: util.Map[String, String]): Table =
    new MeasureTable(new CaseInsensitiveStringMap(properties))
}

final class MeasureTable(options: CaseInsensitiveStringMap) extends Table with SupportsRead {
  override def name(): String = "measure_sim"
  override def schema(): StructType = MeasureStream.schemaWithSeq
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    () => new MeasureScan(options)
}

final class MeasureScan(options: CaseInsensitiveStringMap) extends Scan {
  override def readSchema(): StructType = MeasureStream.schemaWithSeq
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new MeasureMicroBatchStream(
      nDevices = options.getInt("nDevices", 10),
      nMeasures = options.getInt("nMeasures", 3),
      startMicros = options.getLong("startMicros", 1704067200000000L), // 2024-01-01 UTC
      intervalMicros = options.getLong("intervalMicros", 5000000L),    // 5 s sampling
      ticksPerBatch = options.getLong("ticksPerBatch", 1L),
      maxRowsPerTrigger = options.getLong("maxRowsPerTrigger", Long.MaxValue),
      queueCapacity = options.getLong("queueCapacity", 10L),           // T6 QueueSize
      numPartitions = options.getInt("numPartitions", 4),
      // socket transport: feed served by a FeedTransport.FeedServer; the
      // driver polls LATEST, each partition RANGE-pulls its slice
      feedHost = Option(options.get("feedHost")),
      feedPort = options.getInt("feedPort", 0),
      chunkRows = options.getLong("chunkRows", 65536L),
      feedSecurity = FeedSecurity.fromOptions(options))
}

/** Serializable description of the secured-channel material — string
  * paths only, so it ships inside the InputPartition; each executor
  * loads the PKCS#12 + server certificate from a path it can read (on a
  * real cluster distributed via `--files`). Absent = SecurityPolicy None.
  */
final case class FeedSecurity(mode: String, keystore: String,
                              password: String, alias: String,
                              serverCert: String) {
  /** The loaded material, shared by every reader in this JVM until the
    * keystore or server certificate file changes.
    */
  def setup: OpcuaSecure.SecuritySetup = FeedSecurity.setupOf(this)

  private def load(): OpcuaSecure.SecuritySetup = OpcuaSecure.SecuritySetup(
    mode match {
      case "sign" => OpcuaCrypto.SecurityModeSign
      case "signencrypt" => OpcuaCrypto.SecurityModeSignAndEncrypt
      case other => throw new IllegalArgumentException(
        s"secMode must be sign|signencrypt, got $other")
    },
    OpcuaCrypto.loadIdentity(keystore, password, alias),
    java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(serverCert)))
}

object FeedSecurity {
  // Loading the PKCS#12 decrypts it with PBKDF2; each partition reader of
  // each batch would otherwise pay that again. Keyed on the value, and
  // reloaded when either file's size or mtime moves (a rotated keystore).
  private type Stamp = (Long, java.nio.file.attribute.FileTime)
  private val loaded = new java.util.concurrent.ConcurrentHashMap[
    FeedSecurity, ((Stamp, Stamp), OpcuaSecure.SecuritySetup)]()

  private def stamp(path: String): Stamp = {
    val a = java.nio.file.Files.readAttributes(java.nio.file.Paths.get(path),
      classOf[java.nio.file.attribute.BasicFileAttributes])
    (a.size, a.lastModifiedTime)
  }

  private def setupOf(s: FeedSecurity): OpcuaSecure.SecuritySetup = {
    val files = (stamp(s.keystore), stamp(s.serverCert))
    loaded.compute(s, (_, prev) =>
      if (prev != null && prev._1 == files) prev else (files, s.load()))._2
  }

  def fromOptions(options: CaseInsensitiveStringMap): Option[FeedSecurity] =
    Option(options.get("secMode")).map { m =>
      FeedSecurity(m,
        options.get("secKeystore"), options.get("secKeystorePass"),
        Option(options.get("secAlias")).getOrElse("graft"),
        options.get("secServerCert"))
    }
}

final case class SeqOffset(seq: Long) extends Offset {
  override def json(): String = seq.toString
}

final class MeasureMicroBatchStream(
    nDevices: Int, nMeasures: Int, startMicros: Long, intervalMicros: Long,
    ticksPerBatch: Long, maxRowsPerTrigger: Long, queueCapacity: Long,
    numPartitions: Int, feedHost: Option[String] = None, feedPort: Int = 0,
    chunkRows: Long = 65536L, feedSecurity: Option[FeedSecurity] = None)
  extends MicroBatchStream {

  // a non-positive chunk makes SocketRangeReader's pull loop advance by
  // zero rows — an executor spinning empty round-trips forever; fail the
  // stream at construction, where the bad option is diagnosable
  require(chunkRows > 0, s"chunkRows must be positive, got $chunkRows")

  private val feed = new SimulatedFeed(nDevices, nMeasures, startMicros, intervalMicros, 0L)
  // socket mode: the SERVER owns the clock; the driver's connection only
  // polls LATEST (and reconnects through the same backoff as any client)
  private lazy val remote = feedHost.map(h =>
    new FeedTransport.SocketMeasureFeed(h, feedPort,
      security = feedSecurity.map(_.setup)))
  private val perItemRows = nDevices.toLong * nMeasures

  override def initialOffset(): Offset = SeqOffset(0L)
  override def deserializeOffset(json: String): Offset = SeqOffset(json.toLong)
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = remote.foreach(_.close())

  override def latestOffset(): Offset = remote match {
    case Some(r) => SeqOffset(r.latest())
    case None =>
      // each trigger the simulated server produces `ticksPerBatch` more ticks
      feed.clockTicks += ticksPerBatch
      SeqOffset(feed.latest())
  }

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val endSeq = end.asInstanceOf[SeqOffset].seq
    var startSeq = start.asInstanceOf[SeqOffset].seq
    // T6 discard-oldest: cap the backlog at queueCapacity values per item
    val capacity = queueCapacity * perItemRows
    if (endSeq - startSeq > capacity) startSeq = endSeq - capacity
    // admission control: at most maxRowsPerTrigger per micro-batch
    // (addExact-free overflow guard: maxRowsPerTrigger defaults to Long.MaxValue)
    val admittedEnd =
      if (maxRowsPerTrigger > endSeq - startSeq) endSeq
      else startSeq + maxRowsPerTrigger
    val n = math.max(1, numPartitions)
    val span = admittedEnd - startSeq
    (0 until n).flatMap { p =>
      val lo = startSeq + span * p / n
      val hi = startSeq + span * (p + 1) / n
      if (hi > lo) Some(MeasureRange(lo, hi, nDevices, nMeasures, startMicros,
        intervalMicros, feedHost, feedPort, chunkRows, feedSecurity))
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    (partition: InputPartition) => {
      val r = partition.asInstanceOf[MeasureRange]
      r.feedHost match {
        case Some(h) => new SocketRangeReader(r, h, r.chunkRows)
        case None => new MeasureReader(r)
      }
    }
}

final case class MeasureRange(
    lo: Long, hi: Long, nDevices: Int, nMeasures: Int,
    startMicros: Long, intervalMicros: Long,
    feedHost: Option[String] = None, feedPort: Int = 0,
    chunkRows: Long = 65536L,
    feedSecurity: Option[FeedSecurity] = None) extends InputPartition

/** Executor-side reader: regenerates its [lo, hi) slice from the pure feed
  * function. A real OPC connector would instead drain a per-executor
  * receiver buffer here.
  */
final class MeasureReader(r: MeasureRange) extends PartitionReader[InternalRow] {
  private val feed = new SimulatedFeed(r.nDevices, r.nMeasures, r.startMicros, r.intervalMicros, 0L)
  private var i = r.lo - 1
  override def next(): Boolean = { i += 1; i < r.hi }
  override def get(): InternalRow = {
    val (dev, m, v, ts, ok) = feed.at(i)
    // i IS the offset position: the dequeue sequence the sink uses as its
    // within-batch LWW tiebreak (event_seq)
    InternalRow(UTF8String.fromString(dev), UTF8String.fromString(m), v, ts, ok, i)
  }
  override def close(): Unit = ()
}

/** Executor-side reader over the socket transport: RANGE round-trips pull
  * the partition's [lo, hi) slice in bounded CHUNKS (with the client's
  * backoff reconnect + idempotent retry underneath) — the fetch shape a
  * real networked connector uses, N partitions = N independent
  * connections. Chunking bounds executor memory (a discard-oldest backlog
  * can plan millions of rows into one partition — buffering the whole
  * slice would OOM where the local reader streams) and bounds the retry
  * unit: a connection drop re-pulls at most one chunk, resuming from the
  * next unserved sequence.
  */
final class SocketRangeReader(r: MeasureRange, host: String,
                              chunkRows: Long = 65536L)
    extends PartitionReader[InternalRow] {
  require(chunkRows > 0, s"chunkRows must be positive, got $chunkRows")
  private[graft] val security = r.feedSecurity.map(_.setup)
  private val client = new FeedTransport.SocketMeasureFeed(host, r.feedPort,
    security = security)
  private var chunkStart = r.lo
  private var rows: Iterator[(String, String, Double, Long, Boolean)] = Iterator.empty
  private var seq = r.lo - 1
  private var row: (String, String, Double, Long, Boolean) = _
  override def next(): Boolean = {
    while (!rows.hasNext && chunkStart < r.hi) {
      val chunkEnd = math.min(chunkStart + chunkRows, r.hi)
      rows = client.fetchRange(chunkStart, chunkEnd).iterator
      chunkStart = chunkEnd
    }
    if (!rows.hasNext) false
    else { row = rows.next(); seq += 1; true }
  }
  override def get(): InternalRow = {
    val (dev, m, v, ts, ok) = row
    InternalRow(UTF8String.fromString(dev), UTF8String.fromString(m), v, ts, ok, seq)
  }
  override def close(): Unit = client.close()
}
