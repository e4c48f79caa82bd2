package graft.sources

import java.io.{BufferedInputStream, BufferedOutputStream, OutputStream}
import java.net.{ServerSocket, Socket}
import java.util.concurrent.CopyOnWriteArrayList
import scala.jdk.CollectionConverters._

import OpcuaFraming._

/** A real networked transport for the [[MeasureFeed]] protocol boundary —
  * the reference's OPC UA client connection (S2/T4/T5,
  * `Helpers/OpcuaHelperFunctions.cs:72-136`,
  * `Services/OpcSubscribeService.cs:848-957`) down to the wire format:
  * frames are OPC UA Part 6 binary ([[OpcuaFraming]]) — HEL/ACK limit
  * negotiation, the OPN/CLO OpenSecureChannel lifecycle (every MSG chunk
  * carries the issued channel/token ids),
  * size-prefixed little-endian chunked MSG conversation with sequence
  * discipline, ERR frames — over real TCP, driven end-to-end by
  * FeedTransportSpec; the Part 4 session/Read/subscription services ride
  * the same channel ([[OpcuaSession]], OpcuaSessionSpec). A server
  * constructed with an identity additionally serves SecurityPolicy
  * Basic256Sha256 — the OPN's security header picks the policy per
  * connection ([[OpcuaSecure]], OpcuaSecureSpec).
  *
  * Application payload inside MSG bodies (§5.2 built-in encodings), the
  * read service of the feed log:
  *   LATEST (op 1)            → Int64 newest sequence (exclusive)
  *   GET (op 2; Int64 i)      → one value record
  *   RANGE (op 3; Int64 lo, hi) → Int32 count + records  (chunked body)
  * A value record is String device, String measure, Double value,
  * Int64 sourceMicros, Boolean statusOk.
  *
  * The feed is an append-only log fully determined by the sequence
  * number, so every request is idempotent — which is what makes the
  * client's retry-after-reconnect (and Spark's offset replay above it)
  * safe with no loss and no duplicates.
  */
object FeedTransport {

  private[graft] val OpLatest = 1L
  private val OpGet = 2L
  private val OpRange = 3L

  private def writeRecord(mw: ChunkSink, row: (String, String, Double, Long, Boolean)): Unit =
    mw.str(row._1).str(row._2).f64(row._3).i64(row._4).bool(row._5)

  private def readRecord(r: BufReader): (String, String, Double, Long, Boolean) =
    (r.str(), r.str(), r.f64(), r.i64(), r.bool())

  /** In-process server bridging any [[MeasureFeed]] onto the Part 6
    * transport. `killConnections()` hard-drops every live connection — the
    * test lever for the reconnect path (a "server restart" from the
    * client's point of view). `limits` are the server's own transport
    * limits before negotiation (tests shrink them to force chunking).
    */
  final class FeedServer(feed: MeasureFeed, port: Int = 0,
                         limits: Limits = DefaultLimits,
                         clock: () => Long = () => System.currentTimeMillis(),
                         minTokenLifetimeMs: Long = 60000L,
                         identity: Option[OpcuaCrypto.Identity] = None,
                         users: Map[String, String] = Map.empty,
                         allowAnonymous: Boolean = true)
      extends AutoCloseable {
    private val server = new ServerSocket(port, 50, java.net.InetAddress.getByName("127.0.0.1"))
    private val live = new CopyOnWriteArrayList[Socket]()
    private val nextChannelId = new java.util.concurrent.atomic.AtomicLong(1L)
    @volatile private var running = true

    def boundPort: Int = server.getLocalPort

    private def sendErr(out: OutputStream, code: Long, reason: String): Unit = {
      writeFrame(out, "ERR", 'F', encodeError(code, reason))
      out.flush()
    }

    private def serve(sock: Socket): Unit = {
      val in = new BufferedInputStream(sock.getInputStream, 1 << 16)
      val out = new BufferedOutputStream(sock.getOutputStream, 1 << 16)
      try {
        // ---- handshake: first frame must be HEL (Part 6 §7.1.2.3)
        val (tpe, _, helBody) = readFrame(in, limits.receiveBufferSize)
        if (tpe != "HEL") { sendErr(out, BadTcpMessageTypeInvalid, s"expected HEL, got $tpe"); return }
        val hello =
          try decodeHello(helBody)
          catch { case e: OpcuaError => sendErr(out, e.code, e.reason); return }
        if (hello.protocolVersion != ProtocolVersion) {
          sendErr(out, BadProtocolVersionUnsupported, s"version ${hello.protocolVersion}"); return
        }
        val neg = negotiate(limits, hello.limits)
        writeFrame(out, "ACK", 'F', encodeAck(neg))
        out.flush()
        // chunk ceilings per direction: the client sends chunks up to the
        // revised receive buffer; we send up to neg.sendBufferSize (the
        // client's receive buffer after revision).
        val clientSeq = new SeqState // chunks the client sends
        val serverSeq = new SeqState // chunks we send
        // ---- secure channel: the OPN's asymmetric security header names
        // the policy — SecurityPolicy None or, when the server holds an
        // identity, Basic256Sha256 (Sign / SignAndEncrypt). This pick is
        // the only place the server looks at the policy.
        val (opnTpe, opnFin, opnBody) = readFrame(in, neg.receiveBufferSize)
        if (opnTpe == "ERR") throw decodeError(opnBody)
        if (opnTpe != "OPN" || opnFin != 'F') {
          sendErr(out, BadTcpMessageTypeInvalid, s"expected final OPN, got $opnTpe/$opnFin")
          return
        }
        val policyUri = { val pr = new BufReader(opnBody); pr.u32(); pr.str() }
        val offered: ChannelPolicy =
          if (policyUri != OpcuaCrypto.Basic256Sha256Uri) NonePolicy // refuses other URIs
          else identity match {
            case Some(ident) => OpcuaSecure.Basic256Sha256(0L, ident, null)
            case None =>
              sendErr(out, BadSecurityChecksFailed, "secured endpoint not configured")
              return
          }
        val (opnRid, opnReq) = parseOpenRequest(opnBody, clientSeq, offered)
        if (opnReq.requestType != RequestTypeIssue || !offered.accepts(opnReq.securityMode)) {
          sendErr(out, BadSecurityChecksFailed,
            s"expected Issue in a mode of $policyUri " +
              s"(got ${opnReq.requestType}/${opnReq.securityMode})")
          return
        }
        // the Issue fixes the mode and the client certificate its
        // renewals must carry
        val policy = offered.bind(opnReq.securityMode, opnReq.senderCertDer)
        var token = ChannelToken(nextChannelId.getAndIncrement(), tokenId = 1L,
          createdAtMillis = clock(), lifetimeMs = math.max(minTokenLifetimeMs, opnReq.requestedLifetimeMs))
        // after a renew the PREVIOUS token stays honoured until its own
        // lifetime expires (Part 6 §6.7.4) — (tokenId, expiresAt). The
        // CURRENT token expires too, with the conventional 25% grace
        // past its lifetime — a client that never renews loses the
        // channel, which is what makes the 75% renewal point load-bearing
        // rather than decorative.
        var prevToken: Option[(Long, Long)] = None
        def tokenOk(t: Long): Boolean =
          (t == token.tokenId &&
            clock() < token.createdAtMillis + token.lifetimeMs + token.lifetimeMs / 4) ||
            prevToken.exists { case (pt, exp) => t == pt && clock() < exp }
        // seals per live token id: chunks the client still sends under the
        // previous token only verify under the keys of ITS nonces
        val issueNonce = policy.newNonce()
        var keyring = Map(token.tokenId -> policy.seals(opnReq.clientNonce, issueNonce))
        writeOpenResponse(out, serverSeq, opnRid, clock(), token, policy, issueNonce)
        // ---- conversation (symmetric headers carry the issued ids now).
        // Two body addressings share the channel: the bulk-read extension
        // ops (small leading u32 — LATEST/GET/RANGE, the replayable-pull
        // service Spark's offset contract needs) and TypeId-addressed
        // Part 4 services (leading four-byte NodeId, whose u32 image is
        // far outside the opcode range) dispatched to SessionServices.
        val services = new OpcuaSession.SessionServices(feed, clock, identity,
          users, allowAnonymous)
        while (running) {
          val (rid, body) = readConversation(in, clientSeq, neg, token.channelId,
            t => if (tokenOk(t)) keyring.get(t).map(_.client) else None, allowOpn = true)
          if (rid == -1L) {
            // mid-conversation OPN: token RENEWAL on the live channel
            val (orid, req) = parseOpenRequest(body, clientSeq, policy)
            if (req.requestType != RequestTypeRenew || !policy.accepts(req.securityMode) ||
                req.channelId != token.channelId) {
              sendErr(out, BadSecurityChecksFailed,
                s"expected Renew/${policy.mode} on channel ${token.channelId}, " +
                  s"got ${req.requestType}/${req.securityMode} on ${req.channelId}")
              return
            }
            prevToken = Some((token.tokenId, token.createdAtMillis + token.lifetimeMs))
            token = ChannelToken(token.channelId, token.tokenId + 1,
              createdAtMillis = clock(),
              lifetimeMs = math.max(minTokenLifetimeMs, req.requestedLifetimeMs))
            val serverNonce = policy.newNonce()
            keyring = keyring.filter { case (t, _) => prevToken.exists(_._1 == t) } +
              (token.tokenId -> policy.seals(req.clientNonce, serverNonce))
            writeOpenResponse(out, serverSeq, orid, clock(), token, policy, serverNonce)
          } else {
            val mw = new MessageWriter(out, serverSeq, rid, neg.sendBufferSize,
              neg.maxChunkCount, token.channelId, token.tokenId, keyring(token.tokenId).server)
            if (!dispatch(services, body, mw, out)) return
          }
        }
      } catch {
        case _: java.io.IOException => () // dropped client (EOF, reset, framing)
        case e: OpcuaError => try sendErr(out, e.code, e.reason) catch { case _: Exception => () }
      } finally { live.remove(sock); try sock.close() catch { case _: Exception => () } }
    }

    /** Answer one reassembled request body through `mw`, the channel's
      * writer under its live token. Returns false when the connection must
      * die (ERR already sent).
      */
    private def dispatch(services: OpcuaSession.SessionServices, body: Array[Byte],
                         mw: ChunkSink, out: OutputStream): Boolean = {
      val r = new BufReader(body)
      r.u32() match {
        case OpLatest =>
          mw.i64(feed.latest()); mw.finish(); true
        case OpGet =>
          writeRecord(mw, feed.at(r.i64())); mw.finish(); true
        case OpRange =>
          val (lo, hi) = (r.i64(), r.i64())
          // hi - lo can overflow Long (lo = Long.MinValue) — the
          // negative-difference arm catches the wrapped value too
          if (hi < lo || hi - lo < 0 || hi - lo > Int.MaxValue) {
            sendErr(out, BadTcpMessageTooLarge, s"range [$lo, $hi) too large")
            false
          } else {
            mw.i32((hi - lo).toInt)
            var i = lo
            while (i < hi) { writeRecord(mw, feed.at(i)); i += 1 }
            mw.finish()
            true
          }
        case _ =>
          // a service-level failure answers as a ServiceFault and
          // leaves the channel OPEN — unlike a Part 6 ERR frame; a
          // body that can't even be DECODED (not a NodeId, truncated
          // service struct) is indistinguishable from stream
          // corruption and answers ERR + close, the Part 6 rule — the
          // peer always gets a diagnostic, never a silent drop
          try {
            val r2 = new BufReader(body)
            val typeId = OpcuaSession.readNodeIdT(r2).numeric.toInt
            val respBody =
              try {
                val w = new BufWriter(256)
                services.handle(typeId, r2, w)
                w.result()
              } catch {
                case e: OpcuaError => OpcuaSession.serviceFaultBody(clock(), e.code)
              }
            mw.raw(respBody); mw.finish()
            true
          } catch {
            case e: FramingViolation =>
              sendErr(out, BadDecodingError, s"undecodable request body: ${e.getMessage}")
              false
          }
      }
    }

    private val acceptor = new Thread(() => {
      while (running) {
        try {
          val sock = server.accept()
          live.add(sock)
          if (!running) { // raced close(): its killConnections snapshot
            live.remove(sock) // may predate our add — close here instead
            try sock.close() catch { case _: Exception => () }
          } else {
            val t = new Thread(() => serve(sock), s"feed-conn-${sock.getPort}")
            t.setDaemon(true)
            t.start()
          }
        } catch {
          // a transient accept failure (EMFILE under fd pressure — which
          // some JDKs surface as SocketException, so no separate quiet
          // arm) must not kill the acceptor and must not busy-spin; the
          // loop condition ends it once close() flips `running`
          case _: java.io.IOException => if (running) Thread.sleep(50)
        }
      }
    }, "feed-server-accept")
    acceptor.setDaemon(true)
    acceptor.start()

    /** Drop every live connection (clients see a broken pipe / EOF). */
    def killConnections(): Unit =
      live.asScala.foreach(s => try s.close() catch { case _: Exception => () })

    override def close(): Unit = {
      running = false
      killConnections()
      server.close()
    }
  }

  /** The server answered but rejected the request (an ERR frame): a
    * DETERMINISTIC failure — retrying it through reconnect/backoff would
    * burn minutes resending a doomed request, so it deliberately does NOT
    * extend IOException and fails the caller immediately with the
    * server's status code and reason.
    */
  final class FeedProtocolException(msg: String) extends RuntimeException(msg)

  /** [[MeasureFeed]] over the Part 6 wire, with the reference's reconnect
    * discipline: on any I/O failure the connection is torn down, the
    * two-leg TCP backoff ([[RetryPolicy.Backoff]]) delays the re-connect +
    * re-handshake, and the in-flight request is RETRIED — idempotent by
    * the append-only-log contract, so a retried pull returns exactly the
    * rows the failed one would have. Connect AND read carry `timeoutMs`
    * (reference DTO timeout): a hung-but-open server surfaces as a
    * SocketTimeoutException and enters the same reconnect path — without
    * it the retry machinery would be unreachable and the stream would
    * wedge forever. `sleeper` is injected so tests drive the backoff
    * without wall-clock sleeps; production passes Thread.sleep.
    */
  final class SocketMeasureFeed(host: String, port: Int,
                                maxAttempts: Int = 8,
                                timeoutMs: Int = 30000,
                                limits: Limits = DefaultLimits,
                                sleeper: Double => Unit = s => Thread.sleep((s * 1000).toLong),
                                requestedLifetimeMs: Long = 3600000L,
                                security: Option[OpcuaSecure.SecuritySetup] = None)
      extends MeasureFeed with AutoCloseable {

    private val backoff = new RetryPolicy.Backoff
    @transient private var sock: Socket = _
    @transient private var conv: ClientConversation = _

    /** Delays observed by `sleeper` (exposed for the spec's assertions). */
    val delays = new CopyOnWriteArrayList[Double]()
    /** MSG chunks received (exposed so the spec can assert real chunking). */
    @volatile var chunksRead: Long = 0L

    private def teardown(): Unit = {
      if (sock != null) { try sock.close() catch { case _: Exception => () }; sock = null }
      conv = null
    }

    private def connect(): Unit = {
      sock = new Socket()
      // HEL/ACK + OpenSecureChannel(Issue) — the shared client half. An
      // ERR on either leg is a handshake rejection: same bounded-retry
      // path as a refused TCP connect (the server may be restarting), not
      // the request-level fail-fast an in-conversation ERR gets.
      conv =
        try ClientConversation.connect(sock, host, port, timeoutMs, limits,
          OpcuaSecure.SecuritySetup.policyOf(security), requestedLifetimeMs)
        catch { case e: OpcuaError =>
          throw new java.io.IOException(s"handshake rejected: ${e.getMessage}")
        }
      backoff.tcpDropped() // connected: reset the backoff legs
    }

    /** Run one request against a live connection, reconnecting (with
      * backoff) and retrying on failure up to maxAttempts.
      */
    private def withSession[T](body: => T): T = {
      var attempt = 0
      while (true) {
        try {
          if (conv == null) connect()
          return body
        } catch {
          case e: java.io.IOException =>
            teardown()
            attempt += 1
            if (attempt >= maxAttempts)
              throw new java.io.IOException(s"feed unreachable after $attempt attempts", e)
            val d = backoff.tcpFailed()
            delays.add(d)
            sleeper(d)
        }
      }
      throw new IllegalStateException("unreachable")
    }

    /** One round trip on the shared conversation (which renews the token
      * when due and correlates the response by RequestId). An ERR frame
      * tears the connection down (the spec makes ERR fatal) and fails fast
      * as [[FeedProtocolException]] — no backoff, no retry.
      */
    private def call[T](encode: ChunkSink => Unit)(decode: BufReader => T): T =
      withSession {
        val c = conv
        val before = c.chunksRead
        val body =
          try c.call(encode)
          catch { case e: OpcuaError => teardown(); throw new FeedProtocolException(e.getMessage) }
        chunksRead += c.chunksRead - before
        decode(new BufReader(body))
      }

    override def latest(): Long = call(_.u32(OpLatest))(_.i64())

    override def at(i: Long): (String, String, Double, Long, Boolean) =
      call(mw => { mw.u32(OpGet); mw.i64(i) })(readRecord)

    /** Executor-side batch pull: one round-trip for a partition's whole
      * [lo, hi) slice. Retried as a unit on connection loss (idempotent).
      */
    def fetchRange(lo: Long, hi: Long): Seq[(String, String, Double, Long, Boolean)] =
      call(mw => { mw.u32(OpRange); mw.i64(lo); mw.i64(hi) }) { r =>
        val n = r.i32()
        val rows = Vector.newBuilder[(String, String, Double, Long, Boolean)]
        var i = 0
        while (i < n) { rows += readRecord(r); i += 1 }
        rows.result()
      }

    override def close(): Unit = {
      // best-effort CLO (the spec's orderly shutdown); failures fall back
      // to the plain TCP close
      if (conv != null) conv.close()
      teardown()
    }
  }
}
