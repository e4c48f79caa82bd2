package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{FeedTransport, OpcuaCrypto, SimulatedFeed}
import graft.sources.OpcuaFraming._
import graft.sources.OpcuaSecure.SecuritySetup
import graft.sources.OpcuaSession.SessionClient

/** Part 6 §6.7.4 security-token renewal over real sockets: OPN(Renew) on
  * the live channel issues a fresh token without interrupting the
  * conversation; the old token stays honoured until ITS lifetime ends;
  * the current token expires (25% grace) when never renewed — so the
  * clients' automatic 75%-of-lifetime renewal is load-bearing. The
  * frame-level token-lifecycle cases run over SecurityPolicy None and over
  * Basic256Sha256 SignAndEncrypt, where each token also carries its own
  * keys.
  */
class OpcuaRenewSpec extends AnyFunSuite {

  // RSA keygen is ~a second each; only the secured cases touch them
  private lazy val serverIdent = OpcuaCrypto.generateSelfSigned("renew-server")
  private lazy val clientIdent = OpcuaCrypto.generateSelfSigned("renew-client")

  /** (test-name suffix, client policy, server identity) per policy. */
  private val policies: Seq[(String, () => ChannelPolicy, () => Option[OpcuaCrypto.Identity])] = Seq(
    ("", () => NonePolicy, () => None),
    (" (SignAndEncrypt)",
      () => SecuritySetup(OpcuaCrypto.SecurityModeSignAndEncrypt, clientIdent,
        serverIdent.certDer).policy,
      () => Some(serverIdent)))

  private def withServer(minLifetimeMs: Long = 60000L,
                         identity: Option[OpcuaCrypto.Identity] = None)
                        (f: (FeedTransport.FeedServer, SimulatedFeed) => Unit): Unit = {
    val feed = new SimulatedFeed(nDevices = 2, nMeasures = 2,
      startMicros = 1704067200000000L, intervalMicros = 5000000L, clockTicks = 2L)
    val server = new FeedTransport.FeedServer(feed, minTokenLifetimeMs = minLifetimeMs,
      identity = identity)
    try f(server, feed) finally server.close()
  }

  /** Raw channel helper: socket + HEL/ACK/OPN, returning the pieces the
    * frame-level tests drive directly.
    */
  private def rawChannel(port: Int, lifetimeMs: Long, policy: ChannelPolicy) = {
    val sock = new java.net.Socket()
    sock.connect(new java.net.InetSocketAddress("127.0.0.1", port), 5000)
    sock.setSoTimeout(5000)
    val in = new java.io.BufferedInputStream(sock.getInputStream, 1 << 16)
    val out = new java.io.BufferedOutputStream(sock.getOutputStream, 1 << 16)
    val ch = openClientChannel(in, out, DefaultLimits, "opc.tcp://t/graft",
      System.currentTimeMillis(), lifetimeMs, policy)
    (sock, in, out, ch)
  }

  /** One LATEST request sent under `via`'s token and keys (the send
    * sequence is shared by every copy of a channel), answered on `ch`.
    */
  private def latestOver(in: java.io.InputStream, out: java.io.OutputStream,
                         ch: ClientChannel, via: ClientChannel, requestId: Long): Long = {
    val mw = via.writer(out, requestId)
    mw.u32(FeedTransport.OpLatest); mw.finish()
    // the server stamps responses with its CURRENT token, whatever token
    // the request rode in on (the request's acceptance is what's under test)
    val (_, body) = readConversation(in, ch.recvSeq, ch.readLimits,
      ch.token.channelId, ch.responseSeal, allowOpn = false)
    new BufReader(body).i64()
  }

  test("session client: explicit renew bumps the token and the channel keeps serving") {
    withServer() { (server, _) =>
      val c = new SessionClient("127.0.0.1", server.boundPort)
      try {
        c.createSession("renew"); c.activateSession()
        assert(c.tokenId == 1L)
        assert(c.read(Seq(("dev-0", "m0"))).head.nonEmpty)
        c.renewNow()
        assert(c.tokenId == 2L, "renew must issue a fresh token id")
        assert(c.read(Seq(("dev-0", "m0"))).head.nonEmpty,
          "the session survives renewal — same channel, same session")
        c.renewNow()
        assert(c.tokenId == 3L)
      } finally c.close()
    }
  }

  test("clients auto-renew at 75% of the token lifetime, before expiry bites") {
    // monotone token-id assertions, not exact ids: a slow host can
    // legitimately trip an extra renewal between round-trips
    withServer(minLifetimeMs = 400L) { (server, feed) =>
      val c = new SessionClient("127.0.0.1", server.boundPort, requestedLifetimeMs = 400L)
      try {
        c.createSession("auto"); c.activateSession()
        val before = c.tokenId
        Thread.sleep(450) // comfortably past 300 ms = 75% of 400
        assert(c.read(Seq(("dev-0", "m0"))).head.nonEmpty)
        assert(c.tokenId > before, "the call itself must have renewed first")
      } finally c.close()

      // the bulk client takes the same path through its own call loop —
      // several sleep+pull cycles spanning MANY lifetimes only survive
      // if each cycle's renewal actually lands (the server expires a
      // never-renewed token at 1.25× lifetime)
      val f = new FeedTransport.SocketMeasureFeed("127.0.0.1", server.boundPort,
        requestedLifetimeMs = 400L)
      try {
        (1 to 3).foreach { _ =>
          assert(f.latest() == feed.latest(), "bulk client must renew and keep pulling")
          Thread.sleep(450)
        }
        assert(f.latest() == feed.latest())
        assert(f.delays.isEmpty, "renewal must never have fallen back to reconnect/backoff")
      } finally f.close()
    }
  }

  for ((suffix, policy, identity) <- policies) {
    test("the OLD token is honoured until its lifetime ends; the renewed token takes over" + suffix) {
      withServer(identity = identity()) { (server, feed) =>
        val (sock, in, out, ch) = rawChannel(server.boundPort, lifetimeMs = 60000L, policy())
        try {
          val renewed = renewChannel(in, out, ch, requestId = 2L, System.currentTimeMillis())
          assert(renewed.token.tokenId == 2L && renewed.token.channelId == ch.token.channelId)
          // a request still riding token 1 (within its lifetime) is served
          assert(latestOver(in, out, renewed, via = ch, requestId = 3L) == feed.latest())
          // and so is the fresh token
          assert(latestOver(in, out, renewed, via = renewed, requestId = 4L) == feed.latest())
        } finally sock.close()
      }
    }

    test("a never-renewed token expires (25% grace): the server rejects with ERR" + suffix) {
      withServer(minLifetimeMs = 150L, identity = identity()) { (server, _) =>
        val (sock, in, out, ch) = rawChannel(server.boundPort, lifetimeMs = 150L, policy())
        try {
          Thread.sleep(500) // far past 187.5 ms = lifetime + 25% grace
          val e = intercept[OpcuaError] {
            latestOver(in, out, ch, via = ch, requestId = 2L)
          }
          assert(e.code == BadSecureChannelIdInvalid)
        } finally sock.close()
      }
    }

    test("a Renew addressed to the wrong channel id draws ERR, not a token" + suffix) {
      withServer(identity = identity()) { (server, _) =>
        val (sock, in, out, ch) = rawChannel(server.boundPort, lifetimeMs = 60000L, policy())
        try {
          writeOpenRequest(out, ch.sendSeq, requestId = 2L, System.currentTimeMillis(),
            3600000L, channelId = ch.token.channelId + 99L, requestType = RequestTypeRenew,
            policy = ch.policy, clientNonce = ch.policy.newNonce())
          val e = intercept[OpcuaError] {
            readOpenResponse(in, ch.recvSeq, ch.readLimits.receiveBufferSize, ch.policy)
          }
          assert(e.code == BadSecurityChecksFailed)
        } finally sock.close()
      }
    }
  }
}
