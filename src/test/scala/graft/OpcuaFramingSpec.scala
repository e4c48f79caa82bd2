package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.OpcuaFraming
import graft.sources.OpcuaFraming._
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

/** The Part 6 binary codec in isolation: golden-frame byte pins (computed
  * field-by-field from the published layout, independently of the
  * encoder), chunk reassembly, sequence discipline, limit negotiation,
  * and error frames.
  */
class OpcuaFramingSpec extends AnyFunSuite {

  private def hex(b: Array[Byte]): String = b.map(x => f"$x%02x").mkString

  private val clientLimits = Limits(65536, 65536, 64L * 1024 * 1024, 0L)

  test("golden HEL frame: hex-pinned Part 6 layout") {
    val out = new ByteArrayOutputStream()
    writeFrame(out, "HEL", 'F',
      encodeHello(Hello(0, clientLimits, "opc.tcp://127.0.0.1:4840/graft")))
    val got = out.toByteArray
    // independent construction straight from the spec tables
    val bb = java.nio.ByteBuffer.allocate(62).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("HEL".getBytes("US-ASCII")).put('F'.toByte).putInt(62) // header, size incl. itself
    bb.putInt(0)            // ProtocolVersion
    bb.putInt(65536)        // ReceiveBufferSize
    bb.putInt(65536)        // SendBufferSize
    bb.putInt(64 * 1024 * 1024) // MaxMessageSize
    bb.putInt(0)            // MaxChunkCount (0 = no limit)
    val url = "opc.tcp://127.0.0.1:4840/graft".getBytes("UTF-8")
    bb.putInt(url.length).put(url)
    assert(got.sameElements(bb.array()))
    assert(hex(got) ==
      "48454c463e000000000000000000010000000100000000040000000" +
      "01e0000006f70632e7463703a2f2f3132372e302e302e313a343834302f6772616674")
  }

  test("golden ACK frame") {
    val out = new ByteArrayOutputStream()
    writeFrame(out, "ACK", 'F', encodeAck(clientLimits))
    assert(hex(out.toByteArray) ==
      "41434b461c0000000000000000000100000001000000000400000000")
  }

  test("golden single-chunk MSG frame (LATEST request, seq 1, request 1)") {
    val out = new ByteArrayOutputStream()
    val mw = new MessageWriter(out, new SeqState, 1L, 65536, 0L)
    mw.u32(1L) // OpLatest
    mw.finish()
    // MSG,'F',size=28 | channel 0 | token 0 | seq 1 | requestId 1 | body u32(1)
    assert(hex(out.toByteArray) ==
      "4d5347461c000000" + "00000000" + "00000000" + "01000000" + "01000000" + "01000000")
  }

  test("primitive round-trip incl. nulls, negatives, NaN bit patterns") {
    val w = new BufWriter()
    w.u8(0xAB).i32(-7).i64(Long.MinValue).i64(1704067200000000L)
      .f64(-0.0).f64(Double.NaN).bool(true).bool(false)
      .str(null).str("").str("héllo wörld")
    val r = new BufReader(w.result())
    assert(r.u8() == 0xAB)
    assert(r.i32() == -7)
    assert(r.i64() == Long.MinValue)
    assert(r.i64() == 1704067200000000L)
    assert(java.lang.Double.doubleToRawLongBits(r.f64()) ==
      java.lang.Double.doubleToRawLongBits(-0.0))
    assert(r.f64().isNaN)
    assert(r.bool()); assert(!r.bool())
    assert(r.str() == null)
    assert(r.str() == "")
    assert(r.str() == "héllo wörld")
    assert(r.remaining == 0)
  }

  test("large message splits into C…C,F chunks and reassembles byte-exact") {
    val out = new ByteArrayOutputStream()
    val small = Limits(8192, 8192, 0L, 0L)
    val sendSeq = new SeqState
    val mw = new MessageWriter(out, sendSeq, 42L, small.receiveBufferSize, 0L)
    val rnd = new scala.util.Random(7)
    val strings = (1 to 3000).map(i => s"row-$i-${rnd.alphanumeric.take(rnd.nextInt(20)).mkString}")
    strings.foreach(s => { mw.str(s); mw.i64(i64Of(s)) })
    mw.finish()
    val wire = out.toByteArray
    // every frame on the wire respects the 8192 receive buffer
    var off = 0; var frames = 0
    while (off < wire.length) {
      val size = java.nio.ByteBuffer.wrap(wire, off + 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      assert(size <= 8192); frames += 1; off += size
    }
    assert(frames > 5, s"expected real chunking, got $frames frame(s)")
    val recvSeq = new SeqState
    val (rid, body) = readMessage(new ByteArrayInputStream(wire), recvSeq, small)
    assert(rid == 42L)
    assert(recvSeq.next - 1 == frames) // every chunk consumed, in sequence
    val r = new BufReader(body)
    strings.foreach { s => assert(r.str() == s); assert(r.i64() == i64Of(s)) }
    assert(r.remaining == 0)
  }
  private def i64Of(s: String): Long = s.hashCode.toLong * 2654435761L

  test("sequence-number gaps are a framing violation") {
    val out = new ByteArrayOutputStream()
    val seq = new SeqState
    seq.next = 5 // sender starts at 5; receiver expects 1
    val mw = new MessageWriter(out, seq, 1L, 65536, 0L)
    mw.u32(1L); mw.finish()
    val e = intercept[FramingViolation] {
      readMessage(new ByteArrayInputStream(out.toByteArray), new SeqState, DefaultLimits)
    }
    assert(e.getMessage.contains("sequence number 5, expected 1"))
  }

  test("chunks over the receive buffer are rejected") {
    val out = new ByteArrayOutputStream()
    val mw = new MessageWriter(out, new SeqState, 1L, 65536, 0L) // sender assumes 64k
    mw.raw(("x" * 20000).getBytes("UTF-8")); mw.finish()
    val e = intercept[FramingViolation] { // receiver only granted 8192
      readMessage(new ByteArrayInputStream(out.toByteArray), new SeqState, Limits(8192, 8192, 0, 0))
    }
    assert(e.getMessage.contains("outside [8,"))
  }

  test("MaxChunkCount and MaxMessageSize are enforced on reassembly") {
    def wireOf(nBytes: Int): Array[Byte] = {
      val out = new ByteArrayOutputStream()
      val mw = new MessageWriter(out, new SeqState, 1L, 8192, 0L)
      mw.raw(new Array[Byte](nBytes)); mw.finish()
      out.toByteArray
    }
    val tooManyChunks = intercept[FramingViolation] {
      readMessage(new ByteArrayInputStream(wireOf(100000)), new SeqState, Limits(8192, 8192, 0L, 3L))
    }
    assert(tooManyChunks.getMessage.contains("MaxChunkCount"))
    val tooBig = intercept[FramingViolation] {
      readMessage(new ByteArrayInputStream(wireOf(100000)), new SeqState, Limits(8192, 8192, 50000L, 0L))
    }
    assert(tooBig.getMessage.contains("MaxMessageSize"))
  }

  test("ERR frame surfaces as OpcuaError with its status code") {
    val out = new ByteArrayOutputStream()
    writeFrame(out, "ERR", 'F', encodeError(BadServiceUnsupported, "unknown service 9"))
    val e = intercept[OpcuaError] {
      readMessage(new ByteArrayInputStream(out.toByteArray), new SeqState, DefaultLimits)
    }
    assert(e.code == BadServiceUnsupported)
    assert(e.getMessage == "ERR 0x800B0000: unknown service 9")
  }

  test("golden OPN request frame: OpenSecureChannel(Issue, None), hex-pinned") {
    val out = new ByteArrayOutputStream()
    // fixed clock 2024-01-01T00:00:00Z, requestId 1, fresh sequence
    writeOpenRequest(out, new SeqState, 1L, 1704067200000L, 3600000L)
    val got = out.toByteArray
    val uri = SecurityPolicyNoneUri.getBytes("US-ASCII")
    assert(uri.length == 47)
    // 8 hdr + 4 channel + 51 uri + 4+4 null cert/thumb + 8 seq/rid +
    // 4 NodeId + 29 RequestHeader + 20 request fields = 132
    val bb = java.nio.ByteBuffer.allocate(8 + 4 + (4 + 47) + 4 + 4 + 8 + 4 + 29 + 20)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("OPN".getBytes("US-ASCII")).put('F'.toByte).putInt(0) // size patched below
    bb.putInt(0)                        // SecureChannelId (0 until issued)
    bb.putInt(47).put(uri)              // SecurityPolicyUri
    bb.putInt(-1).putInt(-1)            // null certificate, null thumbprint
    bb.putInt(1).putInt(1)              // SequenceNumber, RequestId
    bb.put(0x01.toByte).put(0.toByte).putShort(446.toShort) // NodeId i=446
    bb.put(0.toByte).put(0.toByte)      // RequestHeader: null auth token
    bb.putLong((1704067200000L + 11644473600000L) * 10000L)  // Timestamp (FILETIME)
    bb.putInt(1)                        // RequestHandle
    bb.putInt(0)                        // ReturnDiagnostics
    bb.putInt(-1)                       // AuditEntryId null
    bb.putInt(0)                        // TimeoutHint
    bb.put(0.toByte).put(0.toByte).put(0.toByte) // AdditionalHeader
    bb.putInt(0)                        // ClientProtocolVersion
    bb.putInt(0)                        // RequestType Issue
    bb.putInt(1)                        // SecurityMode None
    bb.putInt(-1)                       // ClientNonce null
    bb.putInt(3600000)                  // RequestedLifetime
    val want = bb.array()
    // patch the real size into the header
    java.nio.ByteBuffer.wrap(want, 4, 4).order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .putInt(want.length)
    assert(got.length == want.length, s"${got.length} vs ${want.length}")
    assert(got.sameElements(want))
    // and the decoder reads back exactly what was asked
    val (rid, req) = readOpenRequest(new ByteArrayInputStream(got), new SeqState, 65536)
    assert(rid == 1L && req.requestType == RequestTypeIssue &&
      req.securityMode == SecurityModeNone && req.requestedLifetimeMs == 3600000L)
  }

  test("OPN round-trip issues a token; MSG chunks on the wrong channel/token are rejected") {
    val out = new ByteArrayOutputStream()
    val token = ChannelToken(channelId = 7L, tokenId = 3L,
      createdAtMillis = 1704067200000L, lifetimeMs = 60000L)
    writeOpenResponse(out, new SeqState, 1L, 1704067200000L, token)
    val (back, _) = readOpenResponse(new ByteArrayInputStream(out.toByteArray), new SeqState, 65536)
    assert(back == token)
    // a chunk stamped with a stale/foreign token fails loudly
    val msg = new ByteArrayOutputStream()
    val mw = new MessageWriter(msg, new SeqState, 1L, 65536, 0L, channelId = 5L, tokenId = 9L)
    mw.u32(1L); mw.finish()
    val e = intercept[OpcuaError] {
      readMessage(new ByteArrayInputStream(msg.toByteArray), new SeqState, DefaultLimits,
        channelId = 7L, tokenId = 3L)
    }
    assert(e.code == BadSecureChannelIdInvalid)
  }

  test("negotiation: each side's send ceiling is the peer's receive buffer; 0 = unlimited") {
    val server = Limits(100000, 90000, 0L, 64L)
    val hello = Limits(16384, 32768, 1000000L, 0L)
    val neg = OpcuaFraming.negotiate(server, hello)
    assert(neg.receiveBufferSize == 32768)  // min(server recv 100000, client send 32768)
    assert(neg.sendBufferSize == 16384)     // min(server send 90000, client recv 16384)
    assert(neg.maxMessageSize == 1000000L)  // server unlimited → client's bound
    assert(neg.maxChunkCount == 64L)        // client unlimited → server's bound
  }

  test("buffer sizes below the Part 6 minimum are rejected at decode") {
    val bad = new BufWriter().u32(0).u32(1024).u32(65536).u32(0).u32(0).str("opc.tcp://x")
    intercept[FramingViolation] { decodeHello(bad.result()) }
    val badAck = new BufWriter().u32(0).u32(1024).u32(65536).u32(0).u32(0)
    intercept[FramingViolation] { decodeAck(badAck.result()) }
  }
}
