package perfbench

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import graft.sources.{OpcuaCrypto, OpcuaFraming, OpcuaSecure}
import graft.sources.OpcuaFraming.{BufReader, ChunkSink, SeqState}

/** Direct calls into the wire layer on RANGE replies shaped like the
  * workload's: one partition's share of a micro-batch, encoded through the
  * server's chunk writer and decoded through the client's reader, in the
  * workload's security mode (Basic256Sha256 SignAndEncrypt for
  * `ingest-hot`, None for `ingest-fleet`). MB/s of on-wire bytes.
  */
object WireBench {

  def run(hot: Boolean, feed: BenchFeed, seconds: Double = 0.4): Map[String, Double] = {
    val cpus = Runtime.getRuntime.availableProcessors()
    // a hot batch is one full queue; a fleet batch is about one sampling period
    val batchRows = if (hot) IngestRun.QueueCapacity * feed.items else feed.items.toLong
    val rows = math.max(1L, batchRows / cpus)
    val records = (0L until rows).map(feed.element)
    val keys = OpcuaCrypto.deriveChannelKeys(OpcuaCrypto.newNonce(), OpcuaCrypto.newNonce()).serverKeys
    val mode = OpcuaCrypto.SecurityModeSignAndEncrypt
    val limits = OpcuaFraming.DefaultLimits
    def encode(): Array[Byte] = {
      val out = new ByteArrayOutputStream(1 << 16)
      val seq = new SeqState
      val mw: ChunkSink =
        if (hot) new OpcuaSecure.SecureMessageWriter(out, seq, 1L, limits.receiveBufferSize, 0L, 1L, 1L, mode, keys)
        else new OpcuaFraming.MessageWriter(out, seq, 1L, limits.receiveBufferSize, 0L, 1L, 1L)
      mw.i32(records.size)
      records.foreach { case (d, m, v, ts, ok) => mw.str(d).str(m).f64(v).i64(ts).bool(ok) }
      mw.finish()
      out.toByteArray
    }
    def decode(bytes: Array[Byte]): Int = {
      val in = new ByteArrayInputStream(bytes)
      val (_, body) =
        if (hot) OpcuaSecure.readSecureConversation(in, new SeqState, limits, 1L, mode, _ => Some(keys), false)
        else OpcuaFraming.readMessage(in, new SeqState, limits, 1L, 1L)
      val r = new BufReader(body)
      val n = r.i32()
      var i = 0
      while (i < n) { r.str(); r.str(); r.f64(); r.i64(); r.bool(); i += 1 }
      n
    }
    val wire = encode()
    require(decode(wire) == records.size, "wire round trip lost rows")
    def rate(f: () => Unit): Double = {
      (0 until 3).foreach(_ => f()) // JIT
      val t0 = System.nanoTime(); var n = 0L
      while (System.nanoTime() - t0 < (seconds * 1e9).toLong) { f(); n += 1 }
      n * wire.length / 1e6 / ((System.nanoTime() - t0) / 1e9)
    }
    Map("encode_MBps" -> rate(() => encode()), "decode_MBps" -> rate(() => decode(wire)),
      "reply_rows" -> rows.toDouble, "reply_bytes" -> wire.length.toDouble)
  }
}
