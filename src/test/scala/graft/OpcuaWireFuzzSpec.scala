package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.sources.OpcuaCrypto._
import graft.sources.OpcuaFraming._
import graft.sources.OpcuaSecure.SymmetricSeal

/** Seeded mutate/truncate fuzz of the one MSG reader, in all three
  * security modes: a valid multi-chunk message with bytes flipped, or cut
  * short, may parse or may be refused, but only inside the protocol's
  * error taxonomy — FramingViolation, OpcuaError or another IOException
  * (a cut stream ends in EOF). Anything else escaping the reader is a
  * decoder defect.
  */
class OpcuaWireFuzzSpec extends AnyFunSuite {

  private val bufSize = 8192
  private val limits = Limits(bufSize, bufSize, 1L << 20, 64L)
  private val keys = deriveKeys(Array.tabulate[Byte](32)(_.toByte),
    Array.tabulate[Byte](32)(i => (i * 7 + 1).toByte))

  private val modes: Seq[(String, ChunkSeal)] = Seq(
    "None" -> PlainChunks,
    "Sign" -> new SymmetricSeal(SecurityModeSign, keys),
    "SignAndEncrypt" -> new SymmetricSeal(SecurityModeSignAndEncrypt, keys))

  private def message(seal: ChunkSeal, rnd: scala.util.Random): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream()
    val mw = new MessageWriter(out, new SeqState, 7L, bufSize, 0L, 3L, 1L, seal)
    mw.raw(Array.fill[Byte](bufSize + rnd.nextInt(3 * bufSize))(rnd.nextInt().toByte))
    mw.finish()
    out.toByteArray
  }

  private def read(wire: Array[Byte], seal: ChunkSeal): Option[Throwable] =
    try {
      readConversation(new java.io.ByteArrayInputStream(wire), new SeqState, limits, 3L,
        t => Option.when(t == 1L)(seal), allowOpn = false)
      None
    } catch { case e: Throwable => Some(e) }

  for ((name, seal) <- modes) {
    test(s"mutated and truncated $name messages stay inside the error taxonomy") {
      val rnd = new scala.util.Random(20261019L + name.hashCode)
      val clean = message(seal, rnd)
      assert(read(clean, seal).isEmpty, "the unmutated message must read back")
      val escapes = (1 to 400).flatMap { i =>
        val wire = clean.clone()
        // flip 1–4 bytes; every third run also cuts the stream
        (0 until 1 + rnd.nextInt(4)).foreach { _ =>
          val at = rnd.nextInt(wire.length)
          wire(at) = (wire(at) ^ (1 + rnd.nextInt(255))).toByte
        }
        val fuzzed = if (i % 3 == 0) wire.take(rnd.nextInt(wire.length)) else wire
        read(fuzzed, seal).filter {
          case _: FramingViolation | _: OpcuaError | _: java.io.IOException => false
          case _ => true
        }
      }
      assert(escapes.isEmpty, escapes.take(3).map(e => s"${e.getClass.getName}: ${e.getMessage}"))
    }
  }
}
