package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{FeedTransport, OpcuaCrypto, OpcuaFraming, OpcuaSecure, OpcuaSession, SimulatedFeed}
import graft.sources.OpcuaCrypto._
import graft.sources.OpcuaFraming._
import graft.sources.OpcuaSecure._
import graft.sources.OpcuaSession.SessionClient

/** SecurityPolicy Basic256Sha256 — the Sign / SignAndEncrypt modes over
  * the Part 6 channel, closing the crypto half the earlier rounds
  * documented as the remaining S2 gap.
  *
  * Verification strategy: the key-derivation PRF is pinned against the
  * published TLS 1.2 P_SHA256 test vector (RFC 5246's PRF with the
  * classic `test label` inputs, independently recomputed with Python's
  * hmac before pinning); chunk securing is verified by golden-layout
  * assertions on the wire bytes (what IS and IS NOT plaintext-visible),
  * tamper rejection, and end-to-end service conversations over real
  * sockets in both modes, including token renewal re-deriving keys.
  */
class OpcuaSecureSpec extends AnyFunSuite {

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(Integer.parseInt(_, 16).toByte).toArray

  // RSA keygen is ~seconds; two identities shared across every test
  private lazy val serverIdent = generateSelfSigned("graft-server")
  private lazy val clientIdent = generateSelfSigned("graft-client")

  // ------------------------------------------------------ key derivation

  test("P_SHA256 matches the published TLS 1.2 PRF test vector") {
    val secret = hex("9bbe436ba940f017b17652849a71db35")
    val seed = "test label".getBytes("UTF-8") ++ hex("a0ba9f936cda311827a6f796ffd5198c")
    val out = pSha256(secret, seed, 100)
    assert(out.sameElements(hex(
      "e3f229ba727be17b8d122620557cd453c2aab21d07c3d495329b52d4e61edb5a" +
        "6b301791e90d35c9c9a46b4e14baf9af0fa022f7077def17abfd3797c0564bab" +
        "4fbc91666e9def9b97fce34f796789baa48082d122ee42c5a72e5a5110fff701" +
        "87347b66")))
  }

  test("channel key derivation: client keys from (serverNonce, clientNonce), 32/32/16 split") {
    val clientNonce = Array.tabulate[Byte](32)(_.toByte)
    val serverNonce = Array.tabulate[Byte](32)(i => (i + 100).toByte)
    val keys = deriveChannelKeys(clientNonce, serverNonce)
    // golden bytes recomputed independently (Python hmac) before pinning
    assert(keys.clientKeys.signingKey.sameElements(hex(
      "0461e2ffc8cb6200931fefe017c5646e97c41b410ef761d19f68a0d2bdc54908")))
    assert(keys.clientKeys.encryptionKey.sameElements(hex(
      "08ae3502efaea3dd35034f74e974bfcb5ba19b042806550161b9b3391eb63dc0")))
    assert(keys.clientKeys.iv.sameElements(hex("7d34dd12004135107e4f07854cc86e8c")))
    assert(keys.serverKeys.signingKey.sameElements(hex(
      "5d667f3542df4c0d18c2edc05d8fecbf7beb6a0a0403e76e1e91719689d1ecd8")))
    // directions must NOT share material
    assert(!keys.clientKeys.signingKey.sameElements(keys.serverKeys.signingKey))
  }

  // ------------------------------------------------------ asymmetric OPN

  test("secured OPN request round-trips: decrypt, verify, nonce out") {
    val out = new java.io.ByteArrayOutputStream()
    val sendSeq = new SeqState
    val nonce = newNonce()
    writeSecuredOpenRequest(out, sendSeq, requestId = 1L, epochMillis = 1700000000000L,
      requestedLifetimeMs = 600000L, mode = SecurityModeSignAndEncrypt,
      local = clientIdent, remoteCertDer = serverIdent.certDer, clientNonce = nonce)
    val frame = out.toByteArray
    // wire: the nonce and the service struct must NOT be plaintext-visible
    assert(indexOfSlice(frame, nonce) < 0, "client nonce leaked in plaintext")
    // parse as the server would
    val in = new java.io.ByteArrayInputStream(frame)
    val (tpe, fin, body) = readFrame(in, 65536)
    assert(tpe == "OPN" && fin == 'F')
    val recvSeq = new SeqState
    val opn = readSecuredOpnChunk(body, recvSeq, serverIdent)
    assert(opn.senderCertDer.sameElements(clientIdent.certDer))
    val (handle, req, gotNonce) = parseSecuredOpenRequest(opn)
    assert(handle == 1L)
    assert(req.requestType == RequestTypeIssue)
    assert(req.securityMode == SecurityModeSignAndEncrypt)
    assert(req.requestedLifetimeMs == 600000L)
    assert(gotNonce.sameElements(nonce))
  }

  test("secured OPN rejects tampering, wrong receiver, and foreign server certs") {
    val out = new java.io.ByteArrayOutputStream()
    writeSecuredOpenRequest(out, new SeqState, 1L, 1700000000000L, 600000L,
      SecurityModeSign, clientIdent, serverIdent.certDer, newNonce())
    val frame = out.toByteArray
    val body = java.util.Arrays.copyOfRange(frame, 8, frame.length)
    // flip one byte in the encrypted region → OAEP or signature failure
    val tampered = body.clone()
    tampered(tampered.length - 1) = (tampered(tampered.length - 1) ^ 0x01).toByte
    val e1 = intercept[OpcuaError](readSecuredOpnChunk(tampered, new SeqState, serverIdent))
    assert(e1.code == BadSecurityChecksFailed)
    // decrypting with the WRONG identity (we are not the addressee)
    val e2 = intercept[OpcuaError](readSecuredOpnChunk(body, new SeqState, clientIdent))
    assert(e2.code == BadSecurityChecksFailed)
    // response pinning: a response signed by an identity other than the
    // discovered endpoint certificate is refused even though it verifies
    val rout = new java.io.ByteArrayOutputStream()
    val token = ChannelToken(7L, 1L, 1700000000000L, 600000L)
    writeSecuredOpenResponse(rout, new SeqState, 1L, 1700000000000L, token,
      local = clientIdent /* imposter signs */, remoteCertDer = serverIdent.certDer,
      serverNonce = newNonce())
    val rbody = java.util.Arrays.copyOfRange(rout.toByteArray, 8, rout.size())
    val e3 = intercept[OpcuaError](
      parseSecuredOpenResponse(rbody, new SeqState, serverIdent,
        expectedServerCertDer = serverIdent.certDer))
    assert(e3.code == BadSecurityChecksFailed)
  }

  test("garbage peer certificates stay inside the protocol error taxonomy") {
    // direct: the untrusted parse wraps JDK parser failures
    val e1 = intercept[OpcuaError](peerPublicKeyOf(Array[Byte](1, 2, 3)))
    assert(e1.code == BadSecurityChecksFailed)
    val e2 = intercept[OpcuaError](peerPublicKeyOf(Array.fill[Byte](900)(0x30)))
    assert(e2.code == BadSecurityChecksFailed)
    // end-to-end: a chunk whose encrypted region DECRYPTS fine (built
    // with the receiver's real public key) but whose sender certificate
    // is garbage must die in peerPublicKeyOf as an OpcuaError, not a raw
    // CertificateException — this is the only path that reaches the
    // cert parse with attacker bytes
    val junkCert = Array.fill[Byte](64)(0x5A)
    val hw = new graft.sources.OpcuaFraming.BufWriter(256)
    hw.str(Basic256Sha256Uri)
    hw.i32(junkCert.length).raw(junkCert)
    hw.i32(serverIdent.thumbprint.length).raw(serverIdent.thumbprint)
    val secHdr = hw.result()
    val plainBlock = rsaPlainBlockSize(serverIdent.publicKey)
    val plain = Array.fill[Byte](plainBlock)(0x11) // one full block: seq+junk
    val cipher = rsaEncryptBlocks(serverIdent.publicKey, plain)
    val body = new graft.sources.OpcuaFraming.BufWriter(1024)
      .u32(0L).raw(secHdr).raw(cipher).result()
    val e3 = intercept[OpcuaError](readSecuredOpnChunk(body, new SeqState, serverIdent))
    assert(e3.code == BadSecurityChecksFailed)
  }

  // ------------------------------------------------------- symmetric MSG

  private def indexOfSlice(hay: Array[Byte], needle: Array[Byte]): Int = {
    var i = 0
    while (i <= hay.length - needle.length) {
      var j = 0
      while (j < needle.length && hay(i + j) == needle(j)) j += 1
      if (j == needle.length) return i
      i += 1
    }
    -1
  }

  private def roundTrip(mode: Long, payload: Array[Byte],
                        bufSize: Int = 8192): (Array[Byte], Array[Byte], DirectionKeys) = {
    val keys = deriveChannelKeys(newNonce(), newNonce())
    val out = new java.io.ByteArrayOutputStream()
    val mw = new SecureMessageWriter(out, new SeqState, requestId = 9L,
      peerReceiveBufferSize = bufSize, maxChunkCount = 0L,
      channelId = 3L, tokenId = 1L, mode = mode, sendKeys = keys.clientKeys)
    mw.raw(payload); mw.finish()
    val wire = out.toByteArray
    val in = new java.io.ByteArrayInputStream(wire)
    val (rid, body) = readSecureConversation(in, new SeqState,
      Limits(bufSize, bufSize, 0L, 0L), channelId = 3L, mode = mode,
      keysFor = t => if (t == 1L) Some(keys.clientKeys) else None, allowOpn = false)
    assert(rid == 9L)
    (wire, body, keys.clientKeys)
  }

  test("Sign: payload signed and plaintext-visible; MAC rejects tampering") {
    val payload = "the quick brown graft jumps over the lazy feed".getBytes("UTF-8")
    val (wire, body, keys) = roundTrip(SecurityModeSign, payload)
    assert(body.sameElements(payload))
    assert(indexOfSlice(wire, payload) >= 0, "Sign mode must NOT encrypt")
    // the untampered wire reads fine under the WRITER's keys (this is
    // what makes the tamper assertion below non-vacuous)…
    val (rid2, body2) = readSecureConversation(
      new java.io.ByteArrayInputStream(wire), new SeqState,
      Limits(8192, 8192, 0L, 0L), 3L, SecurityModeSign,
      _ => Some(keys), allowOpn = false)
    assert(rid2 == 9L && body2.sameElements(payload))
    // …and flipping one payload byte fails the MAC under the SAME keys
    val tampered = wire.clone()
    tampered(30) = (tampered(30) ^ 0x40).toByte
    val e = intercept[OpcuaError] {
      readSecureConversation(new java.io.ByteArrayInputStream(tampered), new SeqState,
        Limits(8192, 8192, 0L, 0L), 3L, SecurityModeSign,
        _ => Some(keys), allowOpn = false)
    }
    assert(e.code == BadSecurityChecksFailed)
  }

  test("SignAndEncrypt: payload NOT visible on the wire; round-trips exactly") {
    val payload = "top secret measure values 42.5 at dev-7".getBytes("UTF-8")
    val (wire, body, _) = roundTrip(SecurityModeSignAndEncrypt, payload)
    assert(body.sameElements(payload))
    assert(indexOfSlice(wire, payload) < 0, "SignAndEncrypt leaked plaintext")
  }

  test("secured chunking: large messages split, every secured chunk within the buffer") {
    val payload = Array.tabulate[Byte](100000)(i => (i * 31).toByte)
    val bufSize = 8192
    val keys = deriveChannelKeys(newNonce(), newNonce())
    val out = new java.io.ByteArrayOutputStream()
    val mw = new SecureMessageWriter(out, new SeqState, 4L, bufSize, 0L, 1L, 1L,
      SecurityModeSignAndEncrypt, keys.serverKeys)
    mw.raw(payload); mw.finish()
    val wire = out.toByteArray
    // walk the frames: all MSG, sizes within the negotiated buffer
    var off = 0
    var frames = 0
    while (off < wire.length) {
      val size = java.nio.ByteBuffer.wrap(wire, off + 4, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      assert(size <= bufSize, s"secured chunk $size exceeds buffer $bufSize")
      off += size
      frames += 1
    }
    assert(frames > 10, s"100 kB through 8 kB chunks must split (got $frames)")
    val (rid, body) = readSecureConversation(new java.io.ByteArrayInputStream(wire),
      new SeqState, Limits(bufSize, bufSize, 0L, 0L), 1L, SecurityModeSignAndEncrypt,
      _ => Some(keys.serverKeys), allowOpn = false)
    assert(rid == 4L && body.sameElements(payload))
  }

  // ------------------------------------------------------------- e2e

  private def withSecureServer(f: (FeedTransport.FeedServer, SimulatedFeed) => Unit): Unit = {
    val feed = new SimulatedFeed(nDevices = 3, nMeasures = 2,
      startMicros = 1704067200000000L, intervalMicros = 5000000L, clockTicks = 4L)
    val server = new FeedTransport.FeedServer(feed, identity = Some(serverIdent))
    try f(server, feed) finally server.close()
  }

  test("e2e SignAndEncrypt: discover cert via plaintext GetEndpoints, then secured session + Read") {
    withSecureServer { (server, feed) =>
      // bootstrap exactly as a secured deployment would: an insecure
      // discovery connection fetches the endpoint list + certificate…
      val disco = new SessionClient("127.0.0.1", server.boundPort)
      val eps = try disco.getEndpoints() finally disco.close()
      val secure = eps.find(_.securityMode == SecurityModeSignAndEncrypt).get
      assert(secure.securityPolicyUri == Basic256Sha256Uri)
      assert(secure.serverCertDer != null &&
        secure.serverCertDer.sameElements(serverIdent.certDer),
        "GetEndpoints must serve the real server certificate")
      // …then the secured channel pins that certificate
      val c = new SessionClient("127.0.0.1", server.boundPort,
        security = Some(SecuritySetup(SecurityModeSignAndEncrypt, clientIdent,
          secure.serverCertDer)))
      try {
        c.createSession("secured-session")
        c.activateSession()
        val got = c.read(Seq(("dev-0", "m0"), ("dev-1", "m1")))
        assert(got.forall(_.nonEmpty))
        c.closeSession()
      } finally c.close()
    }
  }

  test("e2e Sign: same services, signed-only chunks") {
    withSecureServer { (server, _) =>
      val c = new SessionClient("127.0.0.1", server.boundPort,
        security = Some(SecuritySetup(SecurityModeSign, clientIdent, serverIdent.certDer)))
      try {
        c.createSession("signed-session")
        c.activateSession()
        assert(c.read(Seq(("dev-2", "m0"))).head.nonEmpty)
      } finally c.close()
    }
  }

  test("secured renewal: fresh token, fresh keys, conversation continues") {
    withSecureServer { (server, _) =>
      val c = new SessionClient("127.0.0.1", server.boundPort,
        security = Some(SecuritySetup(SecurityModeSignAndEncrypt, clientIdent,
          serverIdent.certDer)))
      try {
        c.createSession("renewing")
        c.activateSession()
        assert(c.read(Seq(("dev-0", "m0"))).head.nonEmpty)
        val before = c.tokenId
        c.renewNow() // secured OPN(Renew): new nonces, new derived keys
        assert(c.tokenId == before + 1)
        // traffic under the NEW token's keys must flow
        assert(c.read(Seq(("dev-1", "m0"))).head.nonEmpty)
        c.renewNow()
        assert(c.tokenId == before + 2)
        assert(c.read(Seq(("dev-2", "m1"))).head.nonEmpty)
      } finally c.close()
    }
  }

  test("a server without an identity refuses the secured policy loudly") {
    val feed = new SimulatedFeed(nDevices = 1, nMeasures = 1,
      startMicros = 0L, intervalMicros = 1000000L, clockTicks = 2L)
    val server = new FeedTransport.FeedServer(feed) // no identity
    try {
      val e = intercept[Exception] {
        new SessionClient("127.0.0.1", server.boundPort,
          security = Some(SecuritySetup(SecurityModeSignAndEncrypt, clientIdent,
            serverIdent.certDer)))
      }
      val msg = e.getMessage
      assert(msg != null && (msg.contains("not configured") || e.isInstanceOf[java.io.IOException]))
    } finally server.close()
  }

  test("secured bulk client: pulls equal the feed; reconnect re-handshakes the crypto") {
    withSecureServer { (server, feed) =>
      val client = new FeedTransport.SocketMeasureFeed("127.0.0.1", server.boundPort,
        sleeper = _ => (),
        security = Some(SecuritySetup(SecurityModeSignAndEncrypt, clientIdent,
          serverIdent.certDer)))
      try {
        assert(client.latest() == feed.latest())
        (0L until feed.latest()).foreach(i => assert(client.at(i) == feed.at(i)))
        // a dropped connection reconnects through the FULL secured
        // handshake (new nonces, new keys) and the idempotent retry
        // resumes exactly
        server.killConnections()
        assert(client.fetchRange(0L, feed.latest()) ==
          (0L until feed.latest()).map(feed.at))
      } finally client.close()
    }
  }

  test("DSv2 secured socket mode: partitions RANGE-pull over SignAndEncrypt channels") {
    val spark = SparkSpec.spark
    val feed = new SimulatedFeed(nDevices = 3, nMeasures = 2,
      startMicros = 1704067200000000L, intervalMicros = 5000000L, clockTicks = 4L)
    val server = new FeedTransport.FeedServer(feed, identity = Some(serverIdent))
    val dir = java.nio.file.Files.createTempDirectory("graft-sec")
    val ksPath = dir.resolve("client.p12").toString
    val certPath = dir.resolve("server.der").toString
    saveIdentity(clientIdent, ksPath, "testpass", "graft")
    java.nio.file.Files.write(java.nio.file.Paths.get(certPath), serverIdent.certDer)
    val q = spark.readStream
      .format(classOf[graft.sources.MeasureSourceProvider].getName)
      .option("nDevices", 3).option("nMeasures", 2)
      .option("startMicros", 1704067200000000L).option("intervalMicros", 5000000L)
      .option("numPartitions", 2)
      .option("feedHost", "127.0.0.1").option("feedPort", server.boundPort)
      .option("secMode", "signencrypt")
      .option("secKeystore", ksPath).option("secKeystorePass", "testpass")
      .option("secServerCert", certPath)
      .load()
      .writeStream.format("memory").queryName("measure_secured_t")
      .outputMode("append").start()
    try {
      q.processAllAvailable()
      feed.clockTicks += 2
      q.processAllAvailable()
      val got = spark.table("measure_secured_t")
        .selectExpr("device", "measure_name", "raw_value",
          "unix_micros(source_ts) AS micros", "status_ok", "event_seq")
        .collect()
        .map(r => (r.getLong(5),
          (r.getString(0), r.getString(1), r.getDouble(2), r.getLong(3), r.getBoolean(4))))
        .sortBy(_._1)
      assert(got.length == 36, "6 ticks × 6 items through the encrypted channel")
      got.foreach { case (i, row) => assert(row == feed.at(i)) }
    } finally {
      q.stop()
      server.close()
      spark.sql("DROP TABLE IF EXISTS measure_secured_t")
    }
  }

  test("readers share one loaded identity per JVM; a rewritten keystore is read again") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sec-memo")
    val ksPath = dir.resolve("client.p12")
    val certPath = dir.resolve("server.der")
    saveIdentity(clientIdent, ksPath.toString, "testpass", "graft")
    java.nio.file.Files.write(certPath, serverIdent.certDer)
    val sec = graft.sources.FeedSecurity("signencrypt", ksPath.toString, "testpass", "graft",
      certPath.toString)
    val range = graft.sources.MeasureRange(0L, 6L, 3, 2, 1704067200000000L, 5000000L,
      feedHost = Some("127.0.0.1"), feedPort = 1, feedSecurity = Some(sec))
    // readers connect lazily, so building them touches only the key material
    def identity(): Identity = {
      val r = new graft.sources.SocketRangeReader(range, "127.0.0.1")
      try r.security.get.local finally r.close()
    }
    val first = identity()
    assert(identity() eq first)
    assert(first.certDer.sameElements(clientIdent.certDer))
    saveIdentity(serverIdent, ksPath.toString, "testpass", "graft")
    val rotated = identity()
    assert(rotated ne first)
    assert(rotated.certDer.sameElements(serverIdent.certDer))
    assert(identity() eq rotated)
  }

  test("None-policy clients still work against a secured-capable server") {
    withSecureServer { (server, feed) =>
      val c = new SessionClient("127.0.0.1", server.boundPort) // plaintext
      try {
        c.createSession("plain")
        c.activateSession()
        assert(c.read(Seq(("dev-0", "m0"))).head.nonEmpty)
      } finally c.close()
    }
  }
}
