package graft.sources

import java.security.{KeyStore, MessageDigest, PrivateKey, SecureRandom, Signature}
import java.security.cert.CertificateFactory
import java.security.interfaces.RSAPublicKey
import javax.crypto.{Cipher, Mac}
import javax.crypto.spec.{IvParameterSpec, SecretKeySpec}

/** Cryptographic primitives for OPC UA SecurityPolicy Basic256Sha256
  * (Part 7 §6.5.151, Part 6 §6.7.5) — the Sign / SignAndEncrypt modes the
  * reference's endpoint list advertises (`GetEndpoints` returns a
  * SignAndEncrypt endpoint ahead of the None one; the reference client
  * then selects None — `Helpers/OpcuaHelperFunctions.cs:40-47` — but a
  * conforming server must be able to SERVE the secured endpoint too).
  *
  * Algorithm suite (all from the published policy, all JDK-provided):
  *  - AsymmetricSignature: RSA-PKCS#1 v1.5 with SHA-256 (`SHA256withRSA`)
  *  - AsymmetricEncryption: RSA-OAEP with SHA-1 / MGF1-SHA-1
  *  - SymmetricSignature: HMAC-SHA-256 (32-byte MAC)
  *  - SymmetricEncryption: AES-256-CBC (no transport padding — OPC UA
  *    defines its own padding field, §6.7.2.5)
  *  - KeyDerivation: P_SHA256 (the TLS 1.2 PRF expansion, RFC 5246 §5)
  *  - Nonces: 32 bytes (SecureChannelNonceLength for this policy)
  *
  * Everything here is pure byte-level material; the chunk layouts that
  * use it (the OPN wrap and the MSG/CLO seal) live in [[OpcuaSecure]].
  */
object OpcuaCrypto {

  val Basic256Sha256Uri = "http://opcfoundation.org/UA/SecurityPolicy#Basic256Sha256"

  /** MessageSecurityMode (Part 4 §7.15): None = 1, Sign = 2,
    * SignAndEncrypt = 3. None lives in [[OpcuaFraming.SecurityModeNone]].
    */
  val SecurityModeSign = 2L
  val SecurityModeSignAndEncrypt = 3L

  val NonceLength = 32
  val SymSignatureLength = 32 // HMAC-SHA256
  val SymKeyLength = 32       // AES-256
  val SymBlockLength = 16     // AES block / IV

  /** OAEP-SHA1 overhead per RSA block: 2·hLen + 2 = 42 bytes. */
  val OaepOverhead = 42

  // ------------------------------------------------------- key derivation

  /** P_SHA256(secret, seed) expansion (RFC 5246 §5):
    * A(0)=seed, A(i)=HMAC(secret, A(i-1)),
    * output = HMAC(secret, A(1)+seed) ‖ HMAC(secret, A(2)+seed) ‖ …
    * OPC UA Part 6 §6.7.5 uses it with seed = the peer-direction nonce
    * (no TLS label).
    */
  def pSha256(secret: Array[Byte], seed: Array[Byte], length: Int): Array[Byte] = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(secret, "HmacSHA256"))
    val out = new Array[Byte](length)
    var filled = 0
    var a = seed
    while (filled < length) {
      a = mac.doFinal(a) // A(i)
      mac.update(a)
      val block = mac.doFinal(seed)
      val k = math.min(block.length, length - filled)
      System.arraycopy(block, 0, out, filled, k)
      filled += k
    }
    out
  }

  /** One direction's derived material (Part 6 §6.7.5 table 33):
    * signing key ‖ encryption key ‖ IV, carved from one P_SHA256 stream.
    */
  final case class DirectionKeys(signingKey: Array[Byte], encryptionKey: Array[Byte],
                                 iv: Array[Byte])

  def deriveKeys(secret: Array[Byte], seed: Array[Byte]): DirectionKeys = {
    val stream = pSha256(secret, seed, SymSignatureLength + SymKeyLength + SymBlockLength)
    DirectionKeys(
      java.util.Arrays.copyOfRange(stream, 0, SymSignatureLength),
      java.util.Arrays.copyOfRange(stream, SymSignatureLength, SymSignatureLength + SymKeyLength),
      java.util.Arrays.copyOfRange(stream, SymSignatureLength + SymKeyLength,
        SymSignatureLength + SymKeyLength + SymBlockLength))
  }

  /** Both directions, from the client's perspective (Part 6 §6.7.5):
    * the CLIENT keys (client signs/encrypts, server verifies/decrypts)
    * derive with secret = ServerNonce, seed = ClientNonce; the SERVER
    * keys the other way round.
    */
  final case class ChannelKeys(clientKeys: DirectionKeys, serverKeys: DirectionKeys)

  def deriveChannelKeys(clientNonce: Array[Byte], serverNonce: Array[Byte]): ChannelKeys =
    ChannelKeys(
      clientKeys = deriveKeys(secret = serverNonce, seed = clientNonce),
      serverKeys = deriveKeys(secret = clientNonce, seed = serverNonce))

  def newNonce(rng: SecureRandom = new SecureRandom()): Array[Byte] = {
    val n = new Array[Byte](NonceLength)
    rng.nextBytes(n)
    n
  }

  // ------------------------------------------------ identities (X.509)

  /** An application instance certificate + its private key — what each
    * side of a secured channel holds. `certDer` is the X.509 DER blob
    * that rides the asymmetric security header verbatim.
    */
  final case class Identity(certDer: Array[Byte], privateKey: PrivateKey) {
    lazy val publicKey: RSAPublicKey = publicKeyOf(certDer)
    lazy val thumbprint: Array[Byte] = OpcuaCrypto.thumbprint(certDer)
  }

  /** CertificateThumbprint (Part 6 §6.7.2.3): SHA-1 of the DER. */
  def thumbprint(certDer: Array[Byte]): Array[Byte] =
    MessageDigest.getInstance("SHA-1").digest(certDer)

  /** TRUSTED-input parse (our own keystore cert, the pinned endpoint
    * cert): malformation here is a local configuration error and fails
    * fast with the raw exception — reclassifying it as the peer-facing
    * BadSecurityChecksFailed would send a misconfigured node into a
    * silent ERR/reconnect loop. Peer-supplied certificates go through
    * [[peerPublicKeyOf]].
    */
  def publicKeyOf(certDer: Array[Byte]): RSAPublicKey =
    CertificateFactory.getInstance("X.509")
      .generateCertificate(new java.io.ByteArrayInputStream(certDer))
      .getPublicKey.asInstanceOf[RSAPublicKey]

  /** UNTRUSTED-input parse — the OPN security header's SenderCertificate
    * is attacker-controlled bytes, and every malformation must surface
    * inside the protocol's error taxonomy (answered as an ERR frame),
    * never as a raw CertificateException / ClassCastException. The
    * RuntimeException arm (which subsumes ClassCastException) is
    * deliberately broad: the JDK X.509 parser throws unchecked failures
    * on adversarial DER.
    */
  def peerPublicKeyOf(certDer: Array[Byte]): RSAPublicKey =
    try publicKeyOf(certDer)
    catch {
      case e @ (_: java.security.cert.CertificateException | _: RuntimeException) =>
        throw new OpcuaFraming.OpcuaError(OpcuaFraming.BadSecurityChecksFailed,
          s"unparseable or non-RSA certificate: ${e.getClass.getSimpleName}")
    }

  /** Generate a self-signed RSA-2048 identity via the JDK's `keytool`
    * (the JDK exposes no public API for X.509 *construction*, only
    * parsing). Used by specs and local bootstrap; production deployments
    * load an operator-issued PKCS#12 with [[loadIdentity]].
    */
  def generateSelfSigned(cn: String): Identity = {
    val dir = java.nio.file.Files.createTempDirectory("graft-ident")
    val ks = dir.resolve("identity.p12")
    val keytool = new java.io.File(
      new java.io.File(System.getProperty("java.home"), "bin"), "keytool").getAbsolutePath
    val cmd = Seq(keytool, "-genkeypair", "-alias", "graft", "-keyalg", "RSA",
      "-keysize", "2048", "-sigalg", "SHA256withRSA", "-validity", "3650",
      "-dname", s"CN=$cn", "-storetype", "PKCS12",
      "-keystore", ks.toString, "-storepass", "graftpass")
    val p = new ProcessBuilder(cmd: _*).redirectErrorStream(true).start()
    val log = new String(p.getInputStream.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
    if (p.waitFor() != 0) throw new IllegalStateException(s"keytool failed: $log")
    try loadIdentity(ks.toString, "graftpass", "graft")
    finally {
      java.nio.file.Files.deleteIfExists(ks)
      java.nio.file.Files.deleteIfExists(dir)
    }
  }

  /** Persist an identity as PKCS#12 — how an executor-side feed client
    * receives its certificate + key (a path every executor can read;
    * on a real cluster shipped via `--files`).
    */
  def saveIdentity(ident: Identity, p12Path: String, password: String, alias: String): Unit = {
    val ks = KeyStore.getInstance("PKCS12")
    ks.load(null, null)
    val cert = CertificateFactory.getInstance("X.509")
      .generateCertificate(new java.io.ByteArrayInputStream(ident.certDer))
    ks.setKeyEntry(alias, ident.privateKey, password.toCharArray, Array(cert))
    val out = new java.io.FileOutputStream(p12Path)
    try ks.store(out, password.toCharArray) finally out.close()
  }

  def loadIdentity(p12Path: String, password: String, alias: String): Identity = {
    val ks = KeyStore.getInstance("PKCS12")
    val in = new java.io.FileInputStream(p12Path)
    try ks.load(in, password.toCharArray) finally in.close()
    Identity(
      ks.getCertificate(alias).getEncoded,
      ks.getKey(alias, password.toCharArray).asInstanceOf[PrivateKey])
  }

  // --------------------------------------------------------- asymmetric

  def rsaCipherBlockSize(pub: RSAPublicKey): Int = (pub.getModulus.bitLength + 7) / 8
  def rsaPlainBlockSize(pub: RSAPublicKey): Int = rsaCipherBlockSize(pub) - OaepOverhead
  /** PKCS#1 v1.5 signature length = modulus length. */
  def rsaSignatureSize(pub: RSAPublicKey): Int = rsaCipherBlockSize(pub)

  def rsaSign(priv: PrivateKey, data: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val s = Signature.getInstance("SHA256withRSA")
    s.initSign(priv)
    s.update(data, off, len)
    s.sign()
  }

  def rsaVerify(pub: RSAPublicKey, data: Array[Byte], off: Int, len: Int,
                sig: Array[Byte]): Boolean = {
    val s = Signature.getInstance("SHA256withRSA")
    s.initVerify(pub)
    s.update(data, off, len)
    s.verify(sig)
  }

  /** Encrypt `plain` (length a multiple of the plain-block size) with the
    * peer's public key, block by block (Part 6 §6.7.2.2: RSA encryption
    * is applied per plain-text block, outputs concatenated).
    */
  def rsaEncryptBlocks(pub: RSAPublicKey, plain: Array[Byte]): Array[Byte] = {
    val pbs = rsaPlainBlockSize(pub)
    require(plain.length % pbs == 0, s"plain length ${plain.length} not a multiple of $pbs")
    val c = Cipher.getInstance("RSA/ECB/OAEPWithSHA-1AndMGF1Padding")
    c.init(Cipher.ENCRYPT_MODE, pub)
    val out = new java.io.ByteArrayOutputStream(plain.length * 2)
    var off = 0
    while (off < plain.length) {
      out.write(c.doFinal(plain, off, pbs))
      off += pbs
    }
    out.toByteArray
  }

  /** Encrypt an arbitrary-length secret (the Part 4 §7.36.4 user-token
    * password): chunked at the OAEP capacity with NO pre-padding — unlike
    * the OPN body path, the payload is not block-aligned, and OAEP
    * preserves each block's exact payload length so [[rsaDecryptBlocks]]
    * recovers the secret byte-for-byte.
    */
  def rsaEncryptSecret(pub: RSAPublicKey, plain: Array[Byte]): Array[Byte] = {
    val pbs = rsaPlainBlockSize(pub)
    val c = Cipher.getInstance("RSA/ECB/OAEPWithSHA-1AndMGF1Padding")
    c.init(Cipher.ENCRYPT_MODE, pub)
    val out = new java.io.ByteArrayOutputStream(rsaCipherBlockSize(pub))
    var off = 0
    while (off < plain.length) {
      val k = math.min(pbs, plain.length - off)
      out.write(c.doFinal(plain, off, k))
      off += k
    }
    out.toByteArray
  }

  def rsaDecryptBlocks(priv: PrivateKey, cipherBytes: Array[Byte], cipherBlock: Int): Array[Byte] = {
    require(cipherBytes.length % cipherBlock == 0,
      s"cipher length ${cipherBytes.length} not a multiple of $cipherBlock")
    val c = Cipher.getInstance("RSA/ECB/OAEPWithSHA-1AndMGF1Padding")
    c.init(Cipher.DECRYPT_MODE, priv)
    val out = new java.io.ByteArrayOutputStream(cipherBytes.length)
    var off = 0
    while (off < cipherBytes.length) {
      out.write(c.doFinal(cipherBytes, off, cipherBlock))
      off += cipherBlock
    }
    out.toByteArray
  }

  // ---------------------------------------------------------- symmetric

  def hmacSha256(key: Array[Byte], data: Array[Byte], off: Int, len: Int): Array[Byte] = {
    val mac = hmac(key)
    mac.update(data, off, len)
    mac.doFinal()
  }

  /** An HMAC-SHA256 keyed with `key`, for a MAC over several pieces. */
  def hmac(key: Array[Byte]): Mac = {
    val mac = Mac.getInstance("HmacSHA256")
    mac.init(new SecretKeySpec(key, "HmacSHA256"))
    mac
  }

  /** AES-256-CBC without transport padding — the caller guarantees
    * block-aligned input (OPC UA's own padding field does that).
    */
  def aesCbc(encrypt: Boolean, keys: DirectionKeys,
             data: Array[Byte], off: Int, len: Int): Array[Byte] = {
    require(len % SymBlockLength == 0, s"length $len not AES-block aligned")
    val c = Cipher.getInstance("AES/CBC/NoPadding")
    c.init(if (encrypt) Cipher.ENCRYPT_MODE else Cipher.DECRYPT_MODE,
      new SecretKeySpec(keys.encryptionKey, "AES"), new IvParameterSpec(keys.iv))
    c.doFinal(data, off, len)
  }
}
