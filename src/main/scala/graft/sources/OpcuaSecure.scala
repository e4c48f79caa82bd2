package graft.sources

import java.io.{InputStream, OutputStream}
import java.nio.charset.StandardCharsets

import OpcuaFraming._
import OpcuaCrypto._

/** SecurityPolicy Basic256Sha256 (Sign / SignAndEncrypt) as a
  * [[OpcuaFraming.ChannelPolicy]]: the OPN wrap, the nonces and the
  * MSG/CLO chunk seals that the policy-blind channel in [[OpcuaFraming]]
  * asks for (Part 6 §6.7).
  *
  * Chunk layouts (Part 6 §6.7.2, securing applied sign-then-encrypt):
  *
  * OPN (asymmetric — ALWAYS signed and encrypted when the mode is not
  * None, §6.7.3):
  * {{{
  * | header(8) | SecureChannelId(4) | policyUri | senderCert | recvThumb |  <- plaintext, signed
  * | seq(4) rid(4) | OpenSecureChannel struct | padding | RSA-SHA256 sig |  <- RSA-OAEP encrypted
  * }}}
  * The signature (sender's private key) covers every byte from the
  * message header through the padding; the encrypted region starts after
  * the asymmetric security header and is produced block-by-block with
  * the RECEIVER's public key, so the MessageSize field — inside the
  * signed region — must be the final encrypted size, computed up front.
  *
  * MSG and CLO (symmetric, keys derived from the OPN nonces via P_SHA256):
  * {{{
  * | header(8) | SecureChannelId(4) | TokenId(4) |                         <- plaintext, signed
  * | seq(4) rid(4) | body | [padding] | HMAC-SHA256 sig(32) |              <- AES-256-CBC if SignAndEncrypt
  * }}}
  *
  * Padding (both layers): OPC UA pads with `PaddingSize + 1` bytes, every
  * byte equal to PaddingSize — the last padding byte doubles as the
  * PaddingSize field, so the decoder reads the byte just before the
  * signature and strips `value + 1` bytes. Only present when encrypting.
  * RSA keys are capped at 2048 bits: above 256-byte plain blocks the spec
  * adds an ExtraPaddingSize byte this implementation does not emit.
  *
  * Trust model: the client pins the server certificate it discovered via
  * GetEndpoints (byte-equality against the asymmetric header); the server
  * accepts any syntactically valid client certificate on the Issue and
  * pins it for the channel's renewals (trust-on-first-use — a production
  * deployment would check a trust list before the Issue is answered).
  */
object OpcuaSecure {

  /** Everything a secured client needs beyond host/port: the mode, its
    * own certificate + key, and the server certificate to pin + encrypt
    * to (obtained from GetEndpoints discovery or deployment config).
    */
  final case class SecuritySetup(mode: Long, local: Identity, serverCertDer: Array[Byte]) {
    require(mode == SecurityModeSign || mode == SecurityModeSignAndEncrypt,
      s"securable modes are Sign/SignAndEncrypt, got $mode")
    def policy: ChannelPolicy = Basic256Sha256(mode, local, serverCertDer)
  }

  object SecuritySetup {
    /** A client's channel policy: SecurityPolicy None without a setup. */
    def policyOf(setup: Option[SecuritySetup]): ChannelPolicy =
      setup.fold[ChannelPolicy](NonePolicy)(_.policy)
  }

  /** SecurityPolicy Basic256Sha256. `peerCertDer` is the certificate every
    * OPN from the peer must carry: on a client the discovered server
    * certificate; on a server the Issue's sender certificate, null until
    * [[bind]] (trust on first use). `mode` 0 is a server's policy before an
    * Issue has chosen Sign or SignAndEncrypt.
    */
  final case class Basic256Sha256(mode: Long, local: Identity, peerCertDer: Array[Byte])
      extends ChannelPolicy {
    override def accepts(requested: Long): Boolean =
      if (mode == 0L) requested == SecurityModeSign || requested == SecurityModeSignAndEncrypt
      else requested == mode
    override def bind(m: Long, cert: Array[Byte]): ChannelPolicy = copy(mode = m, peerCertDer = cert)
    def newNonce(): Array[Byte] = OpcuaCrypto.newNonce()
    def checkNonce(nonce: Array[Byte], side: String): Unit = {
      val len = if (nonce == null) -1 else nonce.length
      if (len != NonceLength)
        throw new OpcuaError(BadSecurityChecksFailed, s"$side nonce $len B, need $NonceLength")
    }
    def writeOpn(out: OutputStream, seq: SeqState, channelId: Long, requestId: Long,
                 payload: BufWriter => Unit): Unit =
      writeSecuredOpnChunk(out, seq, channelId, requestId, local, peerCertDer, payload)
    def readOpn(frameBody: Array[Byte], seq: SeqState): OpnChunk = {
      val opn = readSecuredOpnChunk(frameBody, seq, local)
      if (peerCertDer != null && !java.util.Arrays.equals(opn.senderCertDer, peerCertDer))
        throw new OpcuaError(BadSecurityChecksFailed,
          "sender certificate does not match the pinned certificate")
      opn
    }
    def seals(clientNonce: Array[Byte], serverNonce: Array[Byte]): ChannelSeals = {
      val keys = deriveChannelKeys(clientNonce, serverNonce)
      ChannelSeals(new SymmetricSeal(mode, keys.clientKeys), new SymmetricSeal(mode, keys.serverKeys))
    }
  }

  // ------------------------------------------------------ asymmetric OPN

  private def frameHeader(tpe: String, fin: Char, totalSize: Int): Array[Byte] =
    new BufWriter(8)
      .raw(tpe.getBytes(StandardCharsets.US_ASCII)).u8(fin).u32(totalSize.toLong)
      .result()

  /** Write one secured OPN chunk whose decrypted service payload is
    * produced by `encodePayload` (request and response share the layout
    * up to the payload). Single-chunk by construction — a 2048-bit
    * handshake is ~2 KB, far under the 8192-byte minimum buffer.
    */
  private def writeSecuredOpnChunk(out: OutputStream, seq: SeqState, channelId: Long,
                                   requestId: Long,
                                   local: Identity, remoteCertDer: Array[Byte],
                                   encodePayload: BufWriter => Unit): Unit = {
    val remotePub = publicKeyOf(remoteCertDer)
    val plainBlock = rsaPlainBlockSize(remotePub)
    val cipherBlock = rsaCipherBlockSize(remotePub)
    require(plainBlock <= 256, "RSA keys above 2048 bits need ExtraPaddingSize (unsupported)")
    val sigLen = rsaSignatureSize(local.publicKey)

    val pw = new BufWriter(512)
    encodePayload(pw)
    val payload = pw.result()

    // padding so (seqHdr + payload + padTotal + sig) fills whole RSA blocks
    val unpadded = 8 + payload.length + 1 + sigLen
    val padSize = (plainBlock - (unpadded % plainBlock)) % plainBlock
    val padTotal = padSize + 1
    val plainLen = 8 + payload.length + padTotal + sigLen
    val cipherLen = (plainLen / plainBlock) * cipherBlock

    val hw = new BufWriter(64 + local.certDer.length)
    hw.str(Basic256Sha256Uri)
    hw.i32(local.certDer.length).raw(local.certDer)
    val thumb = thumbprint(remoteCertDer)
    hw.i32(thumb.length).raw(thumb)
    val secHdr = hw.result()

    val totalSize = 8 + 4 + secHdr.length + cipherLen
    val w = new BufWriter(totalSize)
    w.raw(frameHeader("OPN", 'F', totalSize))
    w.u32(channelId)
    w.raw(secHdr)
    val encOffset = w.length
    w.u32(seq.next); seq.next += 1
    w.u32(requestId)
    var i = 0
    while (i < padTotal) { w.u8(padSize); i += 1 }
    // splice the payload between the sequence header and the padding
    val assembled = {
      val a = new BufWriter(totalSize)
      val head = w.result()
      a.raw(java.util.Arrays.copyOfRange(head, 0, encOffset + 8))
      a.raw(payload)
      a.raw(java.util.Arrays.copyOfRange(head, encOffset + 8, head.length))
      a.result()
    }
    val sig = rsaSign(local.privateKey, assembled, 0, assembled.length)
    require(sig.length == sigLen, s"signature ${sig.length}B, expected $sigLen")
    val plain = new Array[Byte](plainLen)
    System.arraycopy(assembled, encOffset, plain, 0, assembled.length - encOffset)
    System.arraycopy(sig, 0, plain, assembled.length - encOffset, sigLen)
    out.write(assembled, 0, encOffset)
    out.write(rsaEncryptBlocks(remotePub, plain))
    out.flush()
  }

  /** Unsecure one already-read OPN frame body (header stripped by
    * `readFrame`). Order: decrypt with OUR private key, verify the
    * RSA-SHA256 signature with the SENDER's certificate, check the
    * receiver thumbprint names OUR certificate, strip padding, validate
    * the sequence number.
    */
  def readSecuredOpnChunk(frameBody: Array[Byte], seq: SeqState, local: Identity): OpnChunk = {
    val r = new BufReader(frameBody)
    val channelId = r.u32()
    val uri = r.str()
    if (uri != Basic256Sha256Uri)
      throw new OpcuaError(BadSecurityChecksFailed, s"unsupported policy $uri")
    val certLen = r.i32()
    if (certLen <= 0) throw new OpcuaError(BadSecurityChecksFailed, "missing sender certificate")
    val senderCertDer = r.bytes(certLen)
    val thumbLen = r.i32()
    val thumb = if (thumbLen > 0) r.bytes(thumbLen) else Array.emptyByteArray
    if (!java.util.Arrays.equals(thumb, local.thumbprint))
      throw new OpcuaError(BadSecurityChecksFailed, "receiver thumbprint is not our certificate")
    val encOffset = r.pos

    val cipherBlock = rsaCipherBlockSize(local.publicKey)
    val cipherLen = frameBody.length - encOffset
    if (cipherLen <= 0 || cipherLen % cipherBlock != 0)
      throw new OpcuaError(BadSecurityChecksFailed,
        s"encrypted region $cipherLen not a multiple of $cipherBlock")
    val plain =
      try rsaDecryptBlocks(local.privateKey,
        java.util.Arrays.copyOfRange(frameBody, encOffset, frameBody.length), cipherBlock)
      catch { case _: javax.crypto.BadPaddingException =>
        throw new OpcuaError(BadSecurityChecksFailed, "OAEP decryption failed") }

    val senderPub = peerPublicKeyOf(senderCertDer) // attacker-controlled bytes
    val sigLen = rsaSignatureSize(senderPub)
    if (plain.length < sigLen + 9)
      throw new OpcuaError(BadSecurityChecksFailed, "decrypted OPN too short")
    // reconstruct the signed byte stream: header + plaintext head + decrypted body-minus-signature
    val signed = new BufWriter(8 + encOffset + plain.length - sigLen)
      .raw(frameHeader("OPN", 'F', frameBody.length + 8))
      .raw(java.util.Arrays.copyOfRange(frameBody, 0, encOffset))
      .raw(java.util.Arrays.copyOfRange(plain, 0, plain.length - sigLen))
      .result()
    val sig = java.util.Arrays.copyOfRange(plain, plain.length - sigLen, plain.length)
    if (!rsaVerify(senderPub, signed, 0, signed.length, sig))
      throw new OpcuaError(BadSecurityChecksFailed, "OPN signature verification failed")

    val padSize = plain(plain.length - sigLen - 1) & 0xFF
    val padTotal = padSize + 1
    val bodyEnd = plain.length - sigLen - padTotal
    if (bodyEnd < 8)
      throw new OpcuaError(BadSecurityChecksFailed, s"padding $padTotal overruns the chunk")
    var i = plain.length - sigLen - padTotal
    while (i < plain.length - sigLen) {
      if ((plain(i) & 0xFF) != padSize)
        throw new OpcuaError(BadSecurityChecksFailed, "inconsistent padding bytes")
      i += 1
    }
    val pr = new BufReader(java.util.Arrays.copyOfRange(plain, 0, bodyEnd))
    OpnChunk(channelId, readSequenceHeader(pr, seq), senderCertDer, pr)
  }

  // ------------------------------------------------------- symmetric MSG

  /** Basic256Sha256's seal of one direction's MSG/CLO chunks (Part 6
    * §6.7.2): Sign appends an HMAC-SHA256 of the whole chunk;
    * SignAndEncrypt first pads the body to the AES block and then encrypts
    * everything after the TokenId with AES-256-CBC.
    */
  final class SymmetricSeal(mode: Long, keys: DirectionKeys) extends ChunkSeal {
    private val encrypting = mode == SecurityModeSignAndEncrypt
    // worst case per chunk: the 32 B MAC plus up to 16 B of padding
    val overhead: Int = SymSignatureLength + (if (encrypting) SymBlockLength else 0)

    def seal(out: OutputStream, chunk: Array[Byte], end: Int): Unit = {
      // PaddingSize + 1 bytes, each equal to PaddingSize, so that the
      // sequence header, body, padding and MAC fill whole AES blocks
      val padTotal =
        if (!encrypting) 0
        else (SymBlockLength - (end - 16 + 1 + SymSignatureLength) % SymBlockLength) %
          SymBlockLength + 1
      java.util.Arrays.fill(chunk, end, end + padTotal, (padTotal - 1).toByte)
      val signed = end + padTotal
      val total = signed + SymSignatureLength
      putU32(chunk, 4, total)
      System.arraycopy(hmacSha256(keys.signingKey, chunk, 0, signed), 0, chunk, signed,
        SymSignatureLength)
      if (encrypting) {
        out.write(chunk, 0, 16)
        out.write(aesCbc(encrypt = true, keys, chunk, 16, total - 16))
      } else out.write(chunk, 0, total)
    }

    def unseal(tpe: String, fin: Char, frame: Array[Byte]): Int = {
      if (encrypting) {
        val region = frame.length - 8
        if (region <= 0 || region % SymBlockLength != 0)
          throw new OpcuaError(BadSecurityChecksFailed,
            s"encrypted region $region not AES-block aligned")
        System.arraycopy(aesCbc(encrypt = false, keys, frame, 8, region), 0, frame, 8, region)
      }
      if (frame.length < 16 + SymSignatureLength)
        throw new OpcuaError(BadSecurityChecksFailed, "secured chunk too short")
      val sigOff = frame.length - SymSignatureLength
      // the MAC covers the message header readFrame consumed
      val mac = hmac(keys.signingKey)
      mac.update(frameHeader(tpe, fin, frame.length + 8))
      mac.update(frame, 0, sigOff)
      if (!java.security.MessageDigest.isEqual(mac.doFinal(),
          java.util.Arrays.copyOfRange(frame, sigOff, frame.length)))
        throw new OpcuaError(BadSecurityChecksFailed, "chunk MAC verification failed")
      if (!encrypting) sigOff
      else {
        val ps = frame(sigOff - 1) & 0xFF
        val start = sigOff - ps - 1
        if (start < 16) throw new OpcuaError(BadSecurityChecksFailed, "padding overruns the chunk")
        var i = start
        while (i < sigOff) {
          if ((frame(i) & 0xFF) != ps)
            throw new OpcuaError(BadSecurityChecksFailed, "inconsistent padding bytes")
          i += 1
        }
        start
      }
    }
  }

  /** A [[MessageWriter]] under a [[SymmetricSeal]]. Kept under this name
    * because perfbench's WireBench compiles against it.
    */
  final class SecureMessageWriter(out: OutputStream, seq: SeqState, requestId: Long,
                                  peerReceiveBufferSize: Int, maxChunkCount: Long,
                                  channelId: Long, tokenId: Long,
                                  mode: Long, sendKeys: DirectionKeys)
    extends MessageWriter(out, seq, requestId, peerReceiveBufferSize, maxChunkCount,
      channelId, tokenId, new SymmetricSeal(mode, sendKeys))

  /** [[readConversation]] under the [[SymmetricSeal]] of each token's
    * keys. Kept under this name because perfbench's WireBench compiles
    * against it.
    */
  def readSecureConversation(in: InputStream, seq: SeqState, limits: Limits,
                             channelId: Long, mode: Long,
                             keysFor: Long => Option[DirectionKeys],
                             allowOpn: Boolean): (Long, Array[Byte]) =
    readConversation(in, seq, limits, channelId, keysFor(_).map(new SymmetricSeal(mode, _)),
      allowOpn)
}
