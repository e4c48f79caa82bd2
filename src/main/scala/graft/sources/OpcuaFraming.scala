package graft.sources

import java.io.{EOFException, InputStream, OutputStream}
import java.nio.charset.StandardCharsets

/** OPC UA Part 6 (Mappings) TCP transport framing — the public wire
  * specification the reference's client library speaks underneath
  * (`Helpers/OpcuaHelperFunctions.cs:72-136` opens the session whose bytes
  * this layer produces/consumes). Everything here is from the published
  * spec, no library required:
  *
  *  - §7.1.2.2 message header: 3-byte ASCII type (`HEL`/`ACK`/`ERR`/`MSG`)
  *    + 1-byte IsFinal (`F` final, `C` intermediate chunk, `A` abort) +
  *    UInt32 little-endian MessageSize counting the 8-byte header itself.
  *  - §7.1.2.3–7.1.2.5 HEL/ACK/ERR bodies (five UInt32 transport limits +
  *    length-prefixed EndpointUrl; UInt32 status code + Reason string).
  *  - §6.7.2 secure-conversation chunks: each MSG chunk carries
  *    SecureChannelId, a symmetric security header (TokenId) and a
  *    sequence header (SequenceNumber, RequestId); large bodies split at
  *    arbitrary byte boundaries into `C`…`C`,`F` chunks, sequence numbers
  *    strictly consecutive per direction, all chunks of one message under
  *    one RequestId.
  *  - §5.2 built-in type encodings: all integers little-endian, IEEE-754
  *    Double, String = Int32 byte length (−1 = null) + UTF-8 bytes,
  *    Boolean = single byte.
  *
  *  - §6.7 OPN/CLO secure-channel lifecycle: OpenSecureChannel(Issue /
  *    Renew) request/response — asymmetric security header, the Part 4
  *    Request/ResponseHeader structs, four-byte ns-0 NodeIds of the
  *    binary-encoded service types (i=446/449/452), FILETIME DateTimes —
  *    issuing the (SecureChannelId, TokenId) every subsequent MSG chunk
  *    carries; CLO for orderly shutdown.
  *
  * One channel serves every security mode. The security policy is a
  * value the channel holds ([[ChannelPolicy]]): it wraps OPN chunks,
  * sizes the nonces and seals MSG/CLO chunks ([[ChunkSeal]]).
  * [[NonePolicy]] is SecurityPolicy None — null certificate, null nonce,
  * plaintext chunks; [[OpcuaSecure.Basic256Sha256]] is the Sign /
  * SignAndEncrypt policy, with its primitives in [[OpcuaCrypto]]. The
  * OPN codec, the chunk writer and reader, the client channel and the
  * server's token lifecycle ([[FeedTransport.FeedServer]]) are written
  * once, against the policy. The Part 4 service layer above the channel
  * — sessions, Read, subscriptions with monitored items and Publish —
  * lives in [[OpcuaSession]].
  */
object OpcuaFraming {

  val ProtocolVersion = 0
  /** Part 6 §7.1.2.3: buffer sizes below 8192 shall be rejected. */
  val MinBufferSize = 8192
  /** Per-chunk overhead: 8B message header + 4B SecureChannelId + 4B
    * TokenId + 4B SequenceNumber + 4B RequestId.
    */
  val ChunkOverhead = 24

  // OPC UA status codes (public StatusCode CSV, Part 6 Table 55 error cases)
  val GoodStatus = 0x00000000L
  val BadTcpMessageTypeInvalid = 0x807E0000L
  val BadTcpMessageTooLarge = 0x80800000L
  val BadTcpInternalError = 0x80820000L
  val BadTcpEndpointUrlInvalid = 0x80830000L
  val BadProtocolVersionUnsupported = 0x80BE0000L
  val BadSequenceNumberInvalid = 0x80880000L
  val BadServiceUnsupported = 0x800B0000L
  val BadSecurityChecksFailed = 0x80130000L
  val BadSecureChannelIdInvalid = 0x80220000L
  val BadDecodingError = 0x80070000L

  /** The four transport limits negotiated by HEL/ACK (Part 6 §7.1.2.3):
    * `receiveBufferSize`/`sendBufferSize` bound single chunks (a sender
    * may not send a chunk larger than the RECEIVER's receive buffer),
    * `maxMessageSize` bounds a reassembled message body, `maxChunkCount`
    * bounds chunks per message; 0 = no limit for the latter two.
    */
  final case class Limits(receiveBufferSize: Int, sendBufferSize: Int,
                          maxMessageSize: Long, maxChunkCount: Long) {
    require(receiveBufferSize >= MinBufferSize && sendBufferSize >= MinBufferSize,
      s"Part 6 buffer sizes must be >= $MinBufferSize")
  }
  val DefaultLimits: Limits = Limits(65536, 65536, 64L * 1024 * 1024, 0L)

  final case class Hello(protocolVersion: Long, limits: Limits, endpointUrl: String)

  /** Server answered with an ERR message (Part 6 §7.1.2.5) — a
    * deterministic rejection; the connection is dead afterwards (the spec
    * makes ERR fatal) but the REQUEST must not be blindly retried.
    */
  final class OpcuaError(val code: Long, val reason: String)
    extends RuntimeException(f"ERR 0x$code%08X: $reason")

  /** The peer violated the framing contract (bad type, size, sequence…) —
    * indistinguishable from stream corruption, so callers treat it like
    * any I/O failure (teardown + reconnect).
    */
  final class FramingViolation(msg: String) extends java.io.IOException(msg)

  // ---------------------------------------------------------------- bytes

  /** Growable little-endian scratch buffer for §5.2 built-in encodings. */
  final class BufWriter(initial: Int = 256) {
    private var buf = new Array[Byte](math.max(16, initial))
    private var n = 0
    private def ensure(k: Int): Unit =
      if (n + k > buf.length) {
        val grown = new Array[Byte](math.max(buf.length * 2, n + k))
        System.arraycopy(buf, 0, grown, 0, n)
        buf = grown
      }
    def u8(v: Int): this.type = { ensure(1); buf(n) = v.toByte; n += 1; this }
    def u32(v: Long): this.type = {
      ensure(4)
      buf(n) = v.toByte; buf(n + 1) = (v >>> 8).toByte
      buf(n + 2) = (v >>> 16).toByte; buf(n + 3) = (v >>> 24).toByte
      n += 4; this
    }
    def i32(v: Int): this.type = u32(v.toLong & 0xFFFFFFFFL)
    def i64(v: Long): this.type = { u32(v & 0xFFFFFFFFL); u32(v >>> 32) }
    def f64(v: Double): this.type = i64(java.lang.Double.doubleToLongBits(v))
    def bool(v: Boolean): this.type = u8(if (v) 1 else 0)
    def str(s: String): this.type =
      if (s == null) i32(-1)
      else { val b = s.getBytes(StandardCharsets.UTF_8); i32(b.length); raw(b) }
    def raw(b: Array[Byte]): this.type = { ensure(b.length); System.arraycopy(b, 0, buf, n, b.length); n += b.length; this }
    def length: Int = n
    def result(): Array[Byte] = java.util.Arrays.copyOf(buf, n)
  }

  /** Little-endian reader over one reassembled body. */
  final class BufReader(b: Array[Byte]) {
    private var p = 0
    // `k > b.length - p`, NOT `p + k > b.length`: an attacker-controlled
    // length near Int.MaxValue would overflow the sum and slip past the
    // check (then crash outside the FramingViolation taxonomy)
    private def need(k: Int): Unit =
      if (k < 0 || k > b.length - p) throw new FramingViolation(
        s"truncated body: need $k bytes at offset $p of ${b.length}")
    def u8(): Int = { need(1); val v = b(p) & 0xFF; p += 1; v }
    def u32(): Long = {
      need(4)
      val v = (b(p) & 0xFFL) | ((b(p + 1) & 0xFFL) << 8) |
        ((b(p + 2) & 0xFFL) << 16) | ((b(p + 3) & 0xFFL) << 24)
      p += 4; v
    }
    def i32(): Int = u32().toInt
    def i64(): Long = { val lo = u32(); val hi = u32(); (hi << 32) | lo }
    def f64(): Double = java.lang.Double.longBitsToDouble(i64())
    def bool(): Boolean = u8() != 0
    /** Cursor position — the secured-OPN parser needs the byte offset
      * where the encrypted region starts.
      */
    def pos: Int = p
    def bytes(k: Int): Array[Byte] = {
      need(k)
      val out = java.util.Arrays.copyOfRange(b, p, p + k)
      p += k
      out
    }
    def str(): String = {
      val len = i32()
      if (len < 0) null
      else { need(len); val s = new String(b, p, len, StandardCharsets.UTF_8); p += len; s }
    }
    def remaining: Int = b.length - p
  }

  // --------------------------------------------------------------- frames

  private def readFully(in: InputStream, dst: Array[Byte], off: Int, len: Int): Unit = {
    var got = 0
    while (got < len) {
      val k = in.read(dst, off + got, len - got)
      if (k < 0) throw new EOFException("connection closed by peer")
      got += k
    }
  }

  /** One raw frame: (3-char type, IsFinal byte, body after the header). */
  def readFrame(in: InputStream, maxFrameSize: Int): (String, Char, Array[Byte]) = {
    val hdr = new Array[Byte](8)
    readFully(in, hdr, 0, 8)
    val tpe = new String(hdr, 0, 3, StandardCharsets.US_ASCII)
    val fin = (hdr(3) & 0xFF).toChar
    val size = (hdr(4) & 0xFFL) | ((hdr(5) & 0xFFL) << 8) |
      ((hdr(6) & 0xFFL) << 16) | ((hdr(7) & 0xFFL) << 24)
    if (size < 8 || size > maxFrameSize)
      throw new FramingViolation(s"frame size $size outside [8, $maxFrameSize]")
    val body = new Array[Byte](size.toInt - 8)
    readFully(in, body, 0, body.length)
    (tpe, fin, body)
  }

  def writeFrame(out: OutputStream, tpe: String, fin: Char, body: Array[Byte]): Unit = {
    require(tpe.length == 3)
    val w = new BufWriter(8 + body.length)
    w.raw(tpe.getBytes(StandardCharsets.US_ASCII)).u8(fin).u32(8L + body.length).raw(body)
    out.write(w.result())
  }

  // ------------------------------------------------- connection messages

  def encodeHello(h: Hello): Array[Byte] =
    new BufWriter(64)
      .u32(h.protocolVersion)
      .u32(h.limits.receiveBufferSize).u32(h.limits.sendBufferSize)
      .u32(h.limits.maxMessageSize).u32(h.limits.maxChunkCount)
      .str(h.endpointUrl)
      .result()

  def decodeHello(body: Array[Byte]): Hello = {
    val r = new BufReader(body)
    val ver = r.u32()
    val recv = r.u32(); val send = r.u32(); val maxMsg = r.u32(); val maxChunks = r.u32()
    val url = r.str()
    if (recv < MinBufferSize || send < MinBufferSize)
      throw new FramingViolation(s"HEL buffer sizes ($recv/$send) below Part 6 minimum")
    // UInt32 sizes ≥ 2³¹ would wrap negative in .toInt and detonate
    // Limits' require OUTSIDE the framing taxonomy (no ERR diagnostic)
    if (recv > Int.MaxValue || send > Int.MaxValue)
      throw new FramingViolation(s"HEL buffer sizes ($recv/$send) exceed supported range")
    // the Part 6 limit is 4096 BYTES — measure UTF-8 bytes, not UTF-16
    // chars (3000 CJK chars ≈ 9000 bytes would pass a char-count check)
    if (url != null && url.getBytes(StandardCharsets.UTF_8).length > 4096)
      throw new OpcuaError(BadTcpEndpointUrlInvalid, "EndpointUrl exceeds 4096 bytes")
    Hello(ver, Limits(recv.toInt, send.toInt, maxMsg, maxChunks), url)
  }

  def encodeAck(l: Limits): Array[Byte] =
    new BufWriter(20)
      .u32(ProtocolVersion)
      .u32(l.receiveBufferSize).u32(l.sendBufferSize)
      .u32(l.maxMessageSize).u32(l.maxChunkCount)
      .result()

  def decodeAck(body: Array[Byte]): Limits = {
    val r = new BufReader(body)
    r.u32() // server protocol version
    val recv = r.u32(); val send = r.u32(); val maxMsg = r.u32(); val maxChunks = r.u32()
    if (recv < MinBufferSize || send < MinBufferSize)
      throw new FramingViolation(s"ACK buffer sizes ($recv/$send) below Part 6 minimum")
    if (recv > Int.MaxValue || send > Int.MaxValue)
      throw new FramingViolation(s"ACK buffer sizes ($recv/$send) exceed supported range")
    Limits(recv.toInt, send.toInt, maxMsg, maxChunks)
  }

  def encodeError(code: Long, reason: String): Array[Byte] =
    new BufWriter(32).u32(code).str(reason).result()

  def decodeError(body: Array[Byte]): OpcuaError = {
    val r = new BufReader(body)
    new OpcuaError(r.u32(), Option(r.str()).getOrElse(""))
  }

  /** Part 6 §7.1.2.4 negotiation: the ACK revises each limit down to what
    * the server supports; a side's send ceiling is the OTHER side's
    * receive buffer, so the revised receive pairs with the hello's send
    * and vice versa. 0 stays "no limit" only if both sides say so.
    */
  def negotiate(server: Limits, hello: Limits): Limits = {
    def minLimit(a: Long, b: Long): Long =
      if (a == 0) b else if (b == 0) a else math.min(a, b)
    Limits(
      receiveBufferSize = math.min(server.receiveBufferSize, hello.sendBufferSize),
      sendBufferSize = math.min(server.sendBufferSize, hello.receiveBufferSize),
      maxMessageSize = minLimit(server.maxMessageSize, hello.maxMessageSize),
      maxChunkCount = minLimit(server.maxChunkCount, hello.maxChunkCount))
  }

  // ------------------------------------------------------------ OPN / CLO

  val SecurityPolicyNoneUri = "http://opcfoundation.org/UA/SecurityPolicy#None"
  /** MessageSecurityMode enumeration (Part 4): None = 1. */
  val SecurityModeNone = 1L
  /** SecurityTokenRequestType: Issue = 0, Renew = 1. */
  val RequestTypeIssue = 0L
  val RequestTypeRenew = 1L
  // ns-0 numeric NodeIds of the binary-encoded service structs (Part 6 Annex A)
  val OpenSecureChannelRequestId = 446
  val OpenSecureChannelResponseId = 449
  val CloseSecureChannelRequestId = 452

  /** DateTime (Part 6 §5.2.2.5): 100 ns ticks since 1601-01-01 UTC. */
  def toFiletime(epochMillis: Long): Long = (epochMillis + 11644473600000L) * 10000L

  /** Four-byte ns-0 numeric NodeId (encoding mask 0x01, u8 ns, u16 id). */
  private[sources] def nodeId(w: BufWriter, id: Int): BufWriter =
    w.u8(0x01).u8(0).u8(id & 0xFF).u8((id >> 8) & 0xFF)
  private[sources] def readNodeId(r: BufReader): Int = r.u8() match {
    case 0x00 => r.u8() // two-byte form
    case 0x01 => r.u8(); r.u8() | (r.u8() << 8) // four-byte form
    case m => throw new FramingViolation(f"unsupported NodeId encoding 0x$m%02x")
  }

  /** ByteString (Part 6 §5.2.2.7): Int32 length, −1 = null. */
  private[sources] def writeByteString(w: BufWriter, b: Array[Byte]): BufWriter =
    if (b == null) w.i32(-1) else w.i32(b.length).raw(b)
  private[sources] def readByteString(r: BufReader): Array[Byte] = {
    val len = r.i32()
    if (len < 0) null else r.bytes(len) // bounded by the body before allocating
  }

  /** Common RequestHeader (Part 4 §7.33): null auth token, timestamp,
    * handle, no diagnostics, null audit id, timeout, null extension.
    */
  private[sources] def requestHeader(w: BufWriter, epochMillis: Long, handle: Long): BufWriter = {
    w.u8(0x00).u8(0x00)       // AuthenticationToken: null two-byte NodeId
    w.i64(toFiletime(epochMillis))
    w.u32(handle)             // RequestHandle
    w.u32(0L)                 // ReturnDiagnostics
    w.str(null)               // AuditEntryId
    w.u32(0L)                 // TimeoutHint
    w.u8(0x00).u8(0x00).u8(0x00) // AdditionalHeader: null NodeId + encoding 0
  }
  private[sources] def skipRequestHeader(r: BufReader): Long = {
    readNodeId(r); r.i64()
    val handle = r.u32()
    r.u32(); r.str(); r.u32(); readNodeId(r); r.u8()
    handle
  }

  /** An OpenSecureChannelRequest as received: the struct's fields, the
    * frame's SecureChannelId and the sender certificate of the asymmetric
    * header (null under SecurityPolicy None, as is the nonce).
    */
  final case class OpenSecureChannelRequest(requestHandle: Long, clientProtocolVersion: Long,
                                            requestType: Long, securityMode: Long,
                                            requestedLifetimeMs: Long,
                                            channelId: Long, clientNonce: Array[Byte],
                                            senderCertDer: Array[Byte])
  final case class ChannelToken(channelId: Long, tokenId: Long,
                                createdAtMillis: Long, lifetimeMs: Long)

  /** Check the sequence header (Part 6 §6.7.2.4) at `r`'s cursor against
    * `seq` and return its RequestId.
    */
  private[sources] def readSequenceHeader(r: BufReader, seq: SeqState): Long = {
    val sn = r.u32()
    if (sn != seq.next) throw new FramingViolation(s"sequence number $sn, expected ${seq.next}")
    seq.next += 1
    r.u32()
  }

  private[sources] def putU32(b: Array[Byte], off: Int, v: Long): Unit = {
    b(off) = v.toByte; b(off + 1) = (v >>> 8).toByte
    b(off + 2) = (v >>> 16).toByte; b(off + 3) = (v >>> 24).toByte
  }

  // ------------------------------------------------------ security policy

  /** One unwrapped OPN chunk: the frame's SecureChannelId and RequestId,
    * the sender certificate (null under SecurityPolicy None) and a reader
    * at the OpenSecureChannel struct. The sequence number is checked.
    */
  final case class OpnChunk(channelId: Long, requestId: Long, senderCertDer: Array[Byte],
                            payload: BufReader)

  /** The security policy of one secure channel (Part 6 §6.7): how its OPN
    * chunks are wrapped, which nonces its OPNs exchange, and how its
    * MSG/CLO chunks are sealed under the keys those nonces give. This is
    * all that differs between the policies; the OPN codec, the chunk
    * writer and reader and both ends' token lifecycles take it as a value.
    */
  trait ChannelPolicy {
    /** The MessageSecurityMode (Part 4 §7.15) the channel runs. */
    def mode: Long
    /** Whether an OPN asking for `requested` may open or renew the channel. */
    def accepts(requested: Long): Boolean = requested == mode
    /** The policy once an Issue has fixed the mode and named the peer's
      * certificate, which later OPNs must carry.
      */
    def bind(mode: Long, peerCertDer: Array[Byte]): ChannelPolicy = this
    /** A fresh OPN nonce; null under None. */
    def newNonce(): Array[Byte]
    /** Refuse an OPN nonce the policy cannot use; `side` names its sender. */
    def checkNonce(nonce: Array[Byte], side: String): Unit
    /** Write one OPN frame around the struct `payload` encodes. */
    def writeOpn(out: OutputStream, seq: SeqState, channelId: Long, requestId: Long,
                 payload: BufWriter => Unit): Unit
    /** Unwrap one OPN frame body (the 8-byte header already read). */
    def readOpn(frameBody: Array[Byte], seq: SeqState): OpnChunk
    /** The chunk seals of one token, from the nonces its OPN exchanged. */
    def seals(clientNonce: Array[Byte], serverNonce: Array[Byte]): ChannelSeals
  }

  /** How one direction's MSG/CLO chunks are secured under one token
    * (Part 6 §6.7.2). [[MessageWriter]] assembles a chunk in one buffer —
    * the 24 header bytes, then the body — and `seal` completes and sends
    * it; [[readConversation]] hands each chunk's frame body to `unseal`.
    */
  trait ChunkSeal {
    /** The most bytes `seal` appends after a chunk's body. */
    def overhead: Int
    /** Set the MessageSize of the chunk in `chunk(0, end)`, secure it and
      * write it; `chunk` has room for `overhead` more bytes.
      */
    def seal(out: OutputStream, chunk: Array[Byte], end: Int): Unit
    /** Check one chunk's frame body and leave its plaintext in place;
      * returns the offset where the body ends.
      */
    def unseal(tpe: String, fin: Char, frame: Array[Byte]): Int
  }

  /** Plaintext chunks: sent as assembled, accepted as read. */
  object PlainChunks extends ChunkSeal {
    val overhead = 0
    def seal(out: OutputStream, chunk: Array[Byte], end: Int): Unit = {
      putU32(chunk, 4, end)
      out.write(chunk, 0, end)
    }
    def unseal(tpe: String, fin: Char, frame: Array[Byte]): Int = frame.length
  }

  /** One token's seals: the client sends under `client`, the server under
    * `server`.
    */
  final case class ChannelSeals(client: ChunkSeal, server: ChunkSeal)

  /** SecurityPolicy None: the asymmetric header names the policy with a
    * null certificate and thumbprint, nonces are null and every chunk is
    * plaintext.
    */
  object NonePolicy extends ChannelPolicy {
    val mode: Long = SecurityModeNone
    private val plain = ChannelSeals(PlainChunks, PlainChunks)
    def newNonce(): Array[Byte] = null
    def checkNonce(nonce: Array[Byte], side: String): Unit =
      if (nonce != null && nonce.length > 0)
        throw new FramingViolation(s"unexpected $side nonce on a None-policy channel")
    def writeOpn(out: OutputStream, seq: SeqState, channelId: Long, requestId: Long,
                 payload: BufWriter => Unit): Unit = {
      val w = new BufWriter(160)
      w.u32(channelId) // 0 until issued; the live channel id on Renew
      w.str(SecurityPolicyNoneUri).i32(-1).i32(-1)
      w.u32(seq.next); seq.next += 1
      w.u32(requestId)
      payload(w)
      writeFrame(out, "OPN", 'F', w.result())
      out.flush()
    }
    def readOpn(frameBody: Array[Byte], seq: SeqState): OpnChunk = {
      val r = new BufReader(frameBody)
      val channelId = r.u32()
      val uri = r.str()
      if (r.i32() > 0) throw new FramingViolation("unexpected certificate on a None-policy channel")
      if (r.i32() > 0) throw new FramingViolation("unexpected thumbprint on a None-policy channel")
      if (uri != SecurityPolicyNoneUri)
        throw new OpcuaError(BadSecurityChecksFailed, s"unsupported policy $uri")
      OpnChunk(channelId, readSequenceHeader(r, seq), null, r)
    }
    def seals(clientNonce: Array[Byte], serverNonce: Array[Byte]): ChannelSeals = plain
  }

  // ------------------------------------------------------------ OPN codec

  /** OPN request frame — single chunk. Issue rides SecureChannelId 0 (no
    * channel yet); a Renew rides the ESTABLISHED channel id and continues
    * the same send sequence (Part 6 §6.7.4: token renewal re-opens the
    * security token without interrupting the conversation).
    */
  def writeOpenRequest(out: OutputStream, seq: SeqState, requestId: Long,
                       epochMillis: Long, requestedLifetimeMs: Long,
                       channelId: Long = 0L,
                       requestType: Long = RequestTypeIssue,
                       policy: ChannelPolicy = NonePolicy,
                       clientNonce: Array[Byte] = null): Unit =
    policy.writeOpn(out, seq, channelId, requestId, { w =>
      nodeId(w, OpenSecureChannelRequestId)
      requestHeader(w, epochMillis, requestId)
      w.u32(ProtocolVersion) // ClientProtocolVersion
      w.u32(requestType)
      w.u32(policy.mode)
      writeByteString(w, clientNonce)
      w.u32(requestedLifetimeMs)
    })

  def readOpenRequest(in: InputStream, seq: SeqState, maxFrame: Int,
                      policy: ChannelPolicy = NonePolicy): (Long, OpenSecureChannelRequest) =
    parseOpenRequest(readOpnFrame(in, maxFrame), seq, policy)

  /** Parse one already-read OPN frame body into (RequestId, request)
    * (shared by the handshake path and the mid-conversation Renew path,
    * where the frame arrives through the MSG read loop). Issue must carry
    * SecureChannelId 0; the caller validates a Renew's id against the
    * live channel.
    */
  def parseOpenRequest(body: Array[Byte], seq: SeqState,
                       policy: ChannelPolicy = NonePolicy): (Long, OpenSecureChannelRequest) = {
    val opn = policy.readOpn(body, seq)
    val r = opn.payload
    if (readNodeId(r) != OpenSecureChannelRequestId)
      throw new FramingViolation("OPN body is not an OpenSecureChannelRequest")
    val handle = skipRequestHeader(r)
    val ver = r.u32(); val reqType = r.u32(); val mode = r.u32()
    val nonce = readByteString(r)
    policy.checkNonce(nonce, "client")
    val lifetime = r.u32()
    if (reqType == RequestTypeIssue && opn.channelId != 0L)
      throw new FramingViolation("OPN Issue must carry SecureChannelId 0")
    (opn.requestId, OpenSecureChannelRequest(handle, ver, reqType, mode, lifetime,
      opn.channelId, nonce, opn.senderCertDer))
  }

  /** OPN response frame: the issued channel security token. */
  def writeOpenResponse(out: OutputStream, seq: SeqState, requestId: Long,
                        epochMillis: Long, token: ChannelToken,
                        policy: ChannelPolicy = NonePolicy,
                        serverNonce: Array[Byte] = null): Unit =
    policy.writeOpn(out, seq, token.channelId, requestId, { w =>
      nodeId(w, OpenSecureChannelResponseId)
      // ResponseHeader (Part 4 §7.34): timestamp, handle, Good, no
      // diagnostics, empty string table, null extension
      w.i64(toFiletime(epochMillis))
      w.u32(requestId)
      w.u32(GoodStatus)
      w.u8(0x00)               // ServiceDiagnostics: null DiagnosticInfo
      w.i32(-1)                // StringTable: null array
      w.u8(0x00).u8(0x00).u8(0x00) // AdditionalHeader
      w.u32(ProtocolVersion)   // ServerProtocolVersion
      w.u32(token.channelId)
      w.u32(token.tokenId)
      w.i64(toFiletime(token.createdAtMillis))
      w.u32(token.lifetimeMs)
      writeByteString(w, serverNonce)
    })

  /** Read an OPN response: the issued token and the server nonce. */
  def readOpenResponse(in: InputStream, seq: SeqState, maxFrame: Int,
                       policy: ChannelPolicy = NonePolicy): (ChannelToken, Array[Byte]) = {
    val opn = policy.readOpn(readOpnFrame(in, maxFrame), seq)
    val r = opn.payload
    if (readNodeId(r) != OpenSecureChannelResponseId)
      throw new FramingViolation("OPN body is not an OpenSecureChannelResponse")
    r.i64() // response timestamp
    r.u32() // request handle
    val status = r.u32()
    if (status != GoodStatus) throw new OpcuaError(status, "OpenSecureChannel failed")
    r.u8(); r.i32(); readNodeId(r); r.u8() // diagnostics, string table, additional header
    r.u32() // server protocol version
    val channelId = r.u32(); val tokenId = r.u32()
    val createdAt = r.i64(); val lifetime = r.u32()
    val nonce = readByteString(r)
    policy.checkNonce(nonce, "server")
    if (channelId != opn.channelId)
      throw new FramingViolation(s"token channel $channelId != frame channel ${opn.channelId}")
    (ChannelToken(channelId, tokenId, createdAt / 10000L - 11644473600000L, lifetime), nonce)
  }

  private def readOpnFrame(in: InputStream, maxFrame: Int): Array[Byte] = {
    val (tpe, fin, body) = readFrame(in, maxFrame)
    if (tpe == "ERR") throw decodeError(body)
    if (tpe != "OPN" || fin != 'F') throw new FramingViolation(s"expected final OPN, got $tpe/$fin")
    body
  }

  // -------------------------------------------------------- client channel

  /** A client-side channel after the full HEL → ACK → OPN handshake: the
    * revised limits, the issued token, the per-direction sequence states
    * the symmetric conversation continues from, the policy, the live
    * token's seals and the previous token's response seal, accepted while
    * the server may still answer under it (Part 6 §6.7.4).
    */
  final case class ClientChannel(negotiated: Limits, token: ChannelToken,
                                 sendSeq: SeqState, recvSeq: SeqState,
                                 policy: ChannelPolicy, seals: ChannelSeals,
                                 previous: Option[(Long, ChunkSeal)]) {
    /** Limits for READING responses: the peer's chunks are bounded by the
      * revised `sendBufferSize` (OUR receive buffer from its side of the
      * negotiation), so the reader must accept up to that — not our own
      * pre-revision receive buffer.
      */
    def readLimits: Limits = negotiated.copy(receiveBufferSize = negotiated.sendBufferSize)

    /** The seal a response stamped with `tokenId` is checked under. */
    def responseSeal(tokenId: Long): Option[ChunkSeal] =
      if (tokenId == token.tokenId) Some(seals.server)
      else previous.collect { case (t, s) if t == tokenId => s }

    /** A writer for one request (MSG or CLO) under the live token. */
    def writer(out: OutputStream, requestId: Long, messageType: String = "MSG"): MessageWriter =
      new MessageWriter(out, sendSeq, requestId, negotiated.receiveBufferSize,
        negotiated.maxChunkCount, token.channelId, token.tokenId, seals.client, messageType)
  }

  /** The client half of the connection handshake over established streams:
    * HEL, ACK (limits revision), OpenSecureChannel(Issue) under `policy`.
    * Throws [[OpcuaError]] when the server answers ERR and
    * [[FramingViolation]] on a contract break; callers own the socket and
    * must close it on failure.
    */
  def openClientChannel(in: InputStream, out: OutputStream, limits: Limits,
                        endpointUrl: String, epochMillis: Long,
                        requestedLifetimeMs: Long = 3600000L,
                        policy: ChannelPolicy = NonePolicy): ClientChannel = {
    writeFrame(out, "HEL", 'F', encodeHello(Hello(ProtocolVersion, limits, endpointUrl)))
    out.flush()
    val negotiated = readFrame(in, limits.receiveBufferSize) match {
      case ("ACK", _, body) => decodeAck(body)
      case ("ERR", _, body) => throw decodeError(body)
      case (t, _, _) => throw new FramingViolation(s"expected ACK, got $t")
    }
    val unopened = ClientChannel(negotiated, ChannelToken(0L, 0L, epochMillis, 0L),
      new SeqState, new SeqState, policy, null, None)
    exchangeOpn(in, out, unopened, 1L, RequestTypeIssue, epochMillis, requestedLifetimeMs)
  }

  /** Renew the channel's security token in place (Part 6 §6.7.4): one
    * OPN(Renew) round-trip on the live channel, continuing both sequence
    * states, with fresh nonces and so fresh seals. Returns the channel with
    * the NEW token — the caller swaps it before its next request; the
    * server keeps honouring the old token until its original lifetime
    * expires, so in-flight overlap is safe. Call between requests (the
    * single-in-flight discipline both clients keep).
    */
  def renewChannel(in: InputStream, out: OutputStream, channel: ClientChannel,
                   requestId: Long, epochMillis: Long,
                   requestedLifetimeMs: Long = 3600000L): ClientChannel = {
    val renewed = exchangeOpn(in, out, channel, requestId, RequestTypeRenew, epochMillis,
      requestedLifetimeMs)
    if (renewed.token.channelId != channel.token.channelId)
      throw new FramingViolation(
        s"renew answered on channel ${renewed.token.channelId}, expected ${channel.token.channelId}")
    renewed.copy(previous = Some((channel.token.tokenId, channel.seals.server)))
  }

  private def exchangeOpn(in: InputStream, out: OutputStream, ch: ClientChannel,
                          requestId: Long, requestType: Long, epochMillis: Long,
                          requestedLifetimeMs: Long): ClientChannel = {
    val nonce = ch.policy.newNonce()
    writeOpenRequest(out, ch.sendSeq, requestId, epochMillis, requestedLifetimeMs,
      ch.token.channelId, requestType, ch.policy, nonce)
    val (token, serverNonce) =
      readOpenResponse(in, ch.recvSeq, ch.readLimits.receiveBufferSize, ch.policy)
    // stamp the token with LOCAL receipt time: the renewal deadline is
    // computed against the client's clock, and trusting the server's
    // CreatedAt would shift the 75% point by whatever the two clocks
    // diverge (a server clock in the past forces a renew round-trip
    // before EVERY request; one far ahead renews after expiry)
    ch.copy(token = token.copy(createdAtMillis = epochMillis),
      seals = ch.policy.seals(nonce, serverNonce))
  }

  /** True when `token` has consumed ≥ 75 % of its lifetime — the renewal
    * point Part 6 recommends (clients renew early so the old token's
    * remaining validity covers in-flight traffic).
    */
  def shouldRenew(token: ChannelToken, nowMillis: Long): Boolean =
    nowMillis - token.createdAtMillis >= token.lifetimeMs * 3 / 4

  /** A client's conversation on one open channel: the round trip the bulk
    * feed client and the Part 4 session client share. Requests are
    * single-in-flight and numbered from 2 (the OPN took RequestId 1).
    */
  final class ClientConversation(in: InputStream, out: OutputStream, opened: ClientChannel,
                                 requestedLifetimeMs: Long) {
    private var ch = opened
    private var lastId = 1L
    /** Response chunks read so far. */
    var chunksRead = 0L

    def channel: ClientChannel = ch
    /** The RequestId of the request `call` is encoding. */
    def requestId: Long = lastId

    /** One OPN(Renew) round trip, swapping in the fresh token. */
    def renew(): Unit = {
      lastId += 1
      ch = renewChannel(in, out, ch, lastId, System.currentTimeMillis(), requestedLifetimeMs)
    }

    /** Send one request and return the response body. The token is
      * renewed first once 75% of its lifetime is spent; an ERR answer to
      * that renewal means the channel is dead and surfaces as an
      * IOException, like a broken connection. A response to another
      * request is a FramingViolation: a desynced stream must fail loudly,
      * never decode another request's response.
      */
    def call(encode: ChunkSink => Unit): Array[Byte] = {
      if (shouldRenew(ch.token, System.currentTimeMillis()))
        try renew()
        catch { case e: OpcuaError =>
          throw new java.io.IOException(s"token renewal rejected: ${e.getMessage}")
        }
      lastId += 1
      val mw = ch.writer(out, lastId)
      encode(mw)
      mw.finish()
      val before = ch.recvSeq.next
      val (rid, body) = readConversation(in, ch.recvSeq, ch.readLimits, ch.token.channelId,
        ch.responseSeal, allowOpn = false)
      chunksRead += ch.recvSeq.next - before
      if (rid != lastId) throw new FramingViolation(s"response for request $rid, expected $lastId")
      body
    }

    /** Best-effort CLO, Part 6's orderly shutdown: a CloseSecureChannel
      * request on the symmetric header, sealed like any request. The
      * caller closes the socket either way.
      */
    def close(): Unit =
      try {
        lastId += 1
        val body = requestHeader(nodeId(new BufWriter(64), CloseSecureChannelRequestId),
          System.currentTimeMillis(), lastId)
        val w = ch.writer(out, lastId, "CLO")
        w.raw(body.result())
        w.finish()
      } catch { case _: Exception => () }
  }

  object ClientConversation {
    /** Connect `sock` and open a channel over it under `policy`. Callers
      * own the socket and close it when this throws.
      */
    def connect(sock: java.net.Socket, host: String, port: Int, timeoutMs: Int,
                limits: Limits, policy: ChannelPolicy,
                requestedLifetimeMs: Long): ClientConversation = {
      sock.connect(new java.net.InetSocketAddress(host, port), timeoutMs)
      sock.setSoTimeout(timeoutMs)
      val in = new java.io.BufferedInputStream(sock.getInputStream, 1 << 16)
      val out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
      val ch = openClientChannel(in, out, limits, s"opc.tcp://$host:$port/graft",
        System.currentTimeMillis(), requestedLifetimeMs, policy)
      new ClientConversation(in, out, ch, requestedLifetimeMs)
    }
  }

  // ------------------------------------------------------ chunked MSG I/O

  /** Per-direction sequence-number state (Part 6 §6.7.2: strictly
    * consecutive across all chunks a side sends on one connection).
    */
  final class SeqState { var next: Long = 1L }

  /** The incremental writer interface MSG producers encode through, so
    * service dispatch never sees the channel's policy.
    */
  trait ChunkSink {
    def u8(v: Int): this.type
    def u32(v: Long): this.type
    def i32(v: Int): this.type
    def i64(v: Long): this.type
    def f64(v: Double): this.type
    def bool(v: Boolean): this.type
    def str(s: String): this.type
    def raw(b: Array[Byte]): this.type
    def finish(): Unit
  }

  /** Streaming chunk writer for one message (MSG, or CLO): primitives
    * encode directly into the chunk buffer after its 24 header bytes; when
    * a write would overflow the negotiated chunk size the buffer is sealed
    * and sent as an intermediate `C` chunk and the write continues into
    * the next one. `finish()` emits the final `F` chunk (always, even when
    * empty — the receiver needs the final marker). The chunk bound is the
    * peer's receive buffer, less what `seal` appends; the negotiated
    * per-message chunk count is enforced.
    */
  class MessageWriter(out: OutputStream, seq: SeqState, requestId: Long,
                      peerReceiveBufferSize: Int, maxChunkCount: Long,
                      channelId: Long = 0L, tokenId: Long = 0L,
                      seal: ChunkSeal = PlainChunks,
                      messageType: String = "MSG") extends ChunkSink {
    private val chunk = new Array[Byte](peerReceiveBufferSize)
    private val cap = peerReceiveBufferSize - seal.overhead // where a body must end
    require(cap > ChunkOverhead)
    private var n = ChunkOverhead // write position
    private var chunks = 0L
    System.arraycopy(messageType.getBytes(StandardCharsets.US_ASCII), 0, chunk, 0, 3)
    putU32(chunk, 8, channelId) // the OPN-issued secure channel (0 before open)
    putU32(chunk, 12, tokenId)
    putU32(chunk, 20, requestId)

    private def flush(fin: Char): Unit = {
      chunks += 1
      if (maxChunkCount != 0 && chunks > maxChunkCount)
        throw new FramingViolation(s"message exceeds negotiated MaxChunkCount=$maxChunkCount")
      chunk(3) = fin.toByte
      putU32(chunk, 16, seq.next); seq.next += 1
      seal.seal(out, chunk, n)
      n = ChunkOverhead
    }
    private def room(k: Int): Unit = if (n + k > cap) flush('C')
    def u8(v: Int): this.type = { room(1); chunk(n) = v.toByte; n += 1; this }
    def u32(v: Long): this.type = { room(4); putU32(chunk, n, v); n += 4; this }
    def i32(v: Int): this.type = u32(v.toLong & 0xFFFFFFFFL)
    def i64(v: Long): this.type = { u32(v & 0xFFFFFFFFL); u32(v >>> 32) }
    def f64(v: Double): this.type = i64(java.lang.Double.doubleToLongBits(v))
    def bool(v: Boolean): this.type = u8(if (v) 1 else 0)
    def str(s: String): this.type =
      if (s == null) i32(-1)
      else { val b = s.getBytes(StandardCharsets.UTF_8); i32(b.length); raw(b) }
    /** Opaque bytes; may straddle chunk boundaries (§6.7.2 splits the byte
      * stream, not the value stream).
      */
    def raw(b: Array[Byte]): this.type = {
      var off = 0
      while (off < b.length) {
        if (n == cap) flush('C')
        val k = math.min(cap - n, b.length - off)
        System.arraycopy(b, off, chunk, n, k)
        n += k; off += k
      }
      this
    }
    def finish(): Unit = { flush('F'); out.flush() }
  }

  /** [[readConversation]] for one plaintext MSG under one token. Kept
    * under this name because perfbench's WireBench compiles against it.
    */
  def readMessage(in: InputStream, seq: SeqState, limits: Limits,
                  channelId: Long = 0L, tokenId: Long = 0L): (Long, Array[Byte]) =
    readConversation(in, seq, limits, channelId, t => Option.when(t == tokenId)(PlainChunks),
      allowOpn = false)

  /** Read and reassemble one chunked message into (requestId, body bytes).
    * Verifies the §6.7.2 discipline: per-chunk size within our receive
    * buffer, the channel id, a live token — `sealFor` gives the seal of a
    * token the reader still honours (a server honours the PREVIOUS token
    * until its lifetime expires after a renew, Part 6 §6.7.4) — each
    * chunk's seal, sequence numbers consecutive, one RequestId per
    * message, chunk count and reassembled size within the negotiated
    * limits. An `A` chunk aborts the message (its body is an ERR payload);
    * an ERR frame raises [[OpcuaError]]; a CLO, checked like a MSG chunk,
    * ends the conversation as an EOF. When `allowOpn`, an OPN frame (a
    * Renew request) surfaces as `(-1L, rawFrameBody)` — only BETWEEN
    * messages; once MSG chunks have started it is a violation like any
    * other type.
    */
  def readConversation(in: InputStream, seq: SeqState, limits: Limits, channelId: Long,
                       sealFor: Long => Option[ChunkSeal],
                       allowOpn: Boolean): (Long, Array[Byte]) = {
    val body = new java.io.ByteArrayOutputStream(1024)
    var requestId = -1L
    var chunks = 0L
    while (true) {
      val (tpe, fin, frame) = readFrame(in, limits.receiveBufferSize)
      tpe match {
        case "ERR" => throw decodeError(frame)
        case "OPN" if allowOpn && chunks == 0 && fin == 'F' =>
          return (-1L, frame)
        case "MSG" | "CLO" =>
          val r = new BufReader(frame)
          val channel = r.u32(); val token = r.u32()
          val seal = (if (channel == channelId) sealFor(token) else None).getOrElse(
            throw new OpcuaError(BadSecureChannelIdInvalid,
              s"chunk on channel $channel/$token, expected $channelId with a live token"))
          val end = seal.unseal(tpe, fin, frame)
          val rid = readSequenceHeader(r, seq)
          if (tpe == "CLO") throw new EOFException("secure channel closed by peer")
          if (requestId == -1L) requestId = rid
          else if (rid != requestId)
            throw new FramingViolation(s"request id $rid mid-message, expected $requestId")
          chunks += 1
          if (limits.maxChunkCount != 0 && chunks > limits.maxChunkCount)
            throw new FramingViolation(s"message exceeds MaxChunkCount=${limits.maxChunkCount}")
          fin match {
            case 'A' => // abort carries ERR payload
              throw decodeError(java.util.Arrays.copyOfRange(frame, 16, end))
            case 'C' | 'F' =>
              body.write(frame, 16, end - 16)
              if (limits.maxMessageSize != 0 && body.size() > limits.maxMessageSize)
                throw new FramingViolation(s"message exceeds MaxMessageSize=${limits.maxMessageSize}")
              if (fin == 'F') return (requestId, body.toByteArray)
            case other => throw new FramingViolation(s"IsFinal byte '$other'")
          }
        case other => throw new FramingViolation(s"unexpected message type '$other'")
      }
    }
    throw new IllegalStateException("unreachable")
  }
}
