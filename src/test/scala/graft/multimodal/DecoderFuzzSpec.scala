package graft.multimodal

import graft.SparkSpec
import scala.concurrent.duration._

/** Fuzz contract for the band featurizers' parsers on untrusted bytes
  * ([[Multimodal.ppmBandSums]], [[Multimodal.wavUlawBandEnergies]],
  * [[Multimodal.aviDibBandEnergies]]): every input either parses or is
  * REJECTED LOUDLY with an IllegalArgumentException within a time
  * bound — never a hang, never another error type, never an OOM-sized
  * allocation from a crafted header (geometry guards).
  *
  * Two generators per parser: (1) random bytes behind the container's
  * magic, so the parser (not just the magic check) sees hostile input;
  * (2) random single-byte mutations of a VALID file — the corruption
  * shape a real crawl actually produces (truncation, bit rot, proxy
  * mangling). The AVI walk also gets targeted structure attacks:
  * overrunning lengths, short lists, deep nesting, duplicated lists and
  * stream headers, and geometry the frames cannot hold. Each parse runs
  * on its own thread with a hard timeout so a loop that stops advancing
  * fails the suite instead of wedging it.
  */
class DecoderFuzzSpec extends SparkSpec {

  private val timeout = 15.seconds

  // deterministic PRNG — failures must reproduce
  private val rnd = new scala.util.Random(0x9E3779B97F4A7C15L)

  /** Runs `parse` under the contract: it returns, or throws
    * IllegalArgumentException (a require's included), within `timeout`.
    * Anything else escaping — NPE, ArrayIndexOutOfBounds,
    * NegativeArraySize, StackOverflow, OutOfMemory from a crafted
    * geometry — is a parser bug and fails the test.
    */
  private def bounded(what: String, id: Long)(parse: => Any): Unit = {
    // Each parse gets its OWN single-thread executor, shutdownNow()'d
    // on timeout: the parse loops are CPU-bound, so a genuinely
    // non-terminating parser on a shared pool would keep spinning after
    // the timeout and starve later cases into cascading timeouts,
    // obscuring the real offender. The interrupt can't stop a tight
    // loop, but the daemon thread is abandoned in isolation — one hang
    // costs one thread, not the pool.
    import java.util.concurrent._
    val exec = Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, s"fuzz-$what-$id"); t.setDaemon(true); t
    })
    val fut = exec.submit(new Callable[Unit] {
      def call(): Unit = { parse; () }
    })
    try fut.get(timeout.toSeconds, TimeUnit.SECONDS)
    catch {
      case _: TimeoutException =>
        fail(s"$what hung > $timeout on fuzz case $id")
      case e: ExecutionException =>
        e.getCause match {
          case _: IllegalArgumentException => ()
          case other => throw other
        }
    } finally exec.shutdownNow()
  }

  private def randomBytes(n: Int): Array[Byte] = {
    val a = new Array[Byte](n)
    rnd.nextBytes(a)
    a
  }

  /** Single-byte mutations of `valid`: every other one lands in the
    * first `headerLen` bytes, where the container structure lives.
    */
  private def mutations(valid: Array[Byte], headerLen: Int, n: Int): Seq[Array[Byte]] =
    (0 until n).map { i =>
      val m = valid.clone()
      m(rnd.nextInt(if (i % 2 == 0) headerLen else m.length)) = rnd.nextInt(256).toByte
      m
    }

  // RIFF construction kit for the WAV and AVI fixtures
  private def ascii(s: String) = s.getBytes("US-ASCII")
  private def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def chunk(cid: String, data: Array[Byte]): Array[Byte] =
    ascii(cid) ++ le32(data.length) ++ data ++
      (if (data.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
  private def riff(form: String, body: Array[Byte]): Array[Byte] =
    ascii("RIFF") ++ le32(4 + body.length) ++ ascii(form) ++ body

  test("ppmBandSums survives random-byte and mutation fuzz under the decode contract") {
    def bands(id: Long, bytes: Array[Byte]): Unit =
      bounded("ppmBandSums", id)(Multimodal.ppmBandSums(bytes, id, 16))
    // random bytes behind the magic
    for (i <- 0 until 200)
      bands(9000 + i, ascii("P6") ++ randomBytes(rnd.nextInt(600)))
    // single-byte mutations of a valid 16x16 render
    val header = ascii("P6\n16 16\n255\n")
    val valid = header ++ Array.tabulate(768)(i => (i % 251).toByte)
    val (_, _, base) = Multimodal.ppmBandSums(valid, 1L, 16)
    assert(base.length == 16 && base.sum == (0 until 768).map(_ % 251).sum)
    for ((m, i) <- mutations(valid, header.length, n = 300).zipWithIndex)
      bands(9500 + i, m)
    // crafted geometry: 9-digit width cannot wrap; huge heights reject
    // on truncation before any allocation
    bands(9900, ascii("P6\n999999999 999999999\n255\n "))
    intercept[IllegalArgumentException] {
      Multimodal.ppmBandSums(ascii("P6\n16 17\n255\n") ++
        Array.fill(17 * 48)(1.toByte), 2L, 16) // 17 rows don't band by 16
    }
  }


  // valid fixtures for the RIFF parsers
  private def list(form: String, inner: Array[Byte]): Array[Byte] =
    chunk("LIST", ascii(form) ++ inner)
  private def validWav: Array[Byte] = { // mono 8-bit mu-law, 44-byte header
    val fmt = chunk("fmt ", le16(7) ++ le16(1) ++ le32(8000) ++ le32(8000) ++
      le16(1) ++ le16(8))
    riff("WAVE", fmt ++ chunk("data", randomBytes(256)))
  }
  // 24-bit DIB video, 5x4 by default: stride 16, one padding byte per row
  private def strfOf(w: Int, h: Int): Array[Byte] =
    chunk("strf", le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++ le16(24) ++
      le32(0) ++ le32(16 * 4) ++ Array.fill[Byte](16)(0))
  private def avihOf(frames: Int): Array[Byte] =
    chunk("avih", le32(40000) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(frames) ++ Array.fill[Byte](36)(0))
  private def dibHdrl(frames: Int, strf: Array[Byte] = strfOf(5, 4)): Array[Byte] =
    list("hdrl", avihOf(frames) ++
      list("strl", chunk("strh", Array.fill[Byte](56)(0)) ++ strf))
  private def frameChunk(): Array[Byte] = chunk("00db", randomBytes(16 * 4))

  private val ppmHeader = ascii("P6\n16 16\n255\n")
  /** The kept parsers: name, a fresh container magic, the parse. */
  private val targets: Seq[(String, () => Array[Byte], (Array[Byte], Long) => Any)] = Seq(
    ("ppmBandSums", () => ascii("P6"),
      (b, id) => Multimodal.ppmBandSums(b, id, 16)),
    ("wavUlawBandEnergies", () => ascii("RIFF") ++ randomBytes(4) ++ ascii("WAVE"),
      (b, id) => Multimodal.wavUlawBandEnergies(b, id, 16)),
    ("aviDibBandEnergies", () => ascii("RIFF") ++ randomBytes(4) ++ ascii("AVI "),
      (b, id) => Multimodal.aviDibBandEnergies(b, id, 4)))

  test("random bytes behind each container magic reject loudly, within the time bound") {
    var id = 1000L
    for ((name, magic, parse) <- targets; size <- Seq(0, 3, 64, 4096); _ <- 1 to 25) {
      val bytes = magic() ++ randomBytes(size)
      bounded(name, id)(parse(bytes, id)); id += 1
    }
    // no magic at all: every parser rejects before reading past it
    for ((name, _, parse) <- targets) {
      bounded(name, id)(parse(Array.emptyByteArray, id)); id += 1
    }
  }

  test("single-byte mutations of valid files in every format reject or decode, never hang") {
    val hdrl = dibHdrl(2)
    val valids = Seq(
      (ppmHeader ++ randomBytes(768), ppmHeader.length),
      (validWav, 44),
      // header region: RIFF header, hdrl, the movi LIST header, first
      // frame's header
      (riff("AVI ", hdrl ++ list("movi", frameChunk() ++ frameChunk())),
        12 + hdrl.length + 20))
    var id = 2000L
    for (((name, _, parse), (valid, headerLen)) <- targets.zip(valids)) {
      parse(valid, 1L) // the base fixture decodes
      for (m <- mutations(valid, headerLen, n = 300)) {
        bounded(name, id)(parse(m, id)); id += 1
      }
    }
  }

  test("AVI RIFF structure attacks: boundary, nesting, duplication, geometry") {
    def parse(bytes: Array[Byte]) = Multimodal.aviDibBandEnergies(bytes, 7L, 4)
    def expectReject(bytes: Array[Byte], msg: String): Unit = {
      val e = intercept[IllegalArgumentException](parse(bytes))
      assert(e.getMessage.contains(msg), s"wrong rejection message: ${e.getMessage}")
    }
    val movi = list("movi", frameChunk() ++ frameChunk())

    // baseline: two 5x4 frames decode
    val two = parse(riff("AVI ", dibHdrl(2) ++ movi))
    assert((two.width, two.height, two.n_frames) === ((5, 4, 2)))

    // a duplicated movi LIST is structurally legal RIFF — frames from
    // both lists count, so every band energy doubles; avih must then
    // declare all four
    val dup = parse(riff("AVI ", dibHdrl(4) ++ movi ++ movi))
    assert(dup.n_frames === 4 && dup.bands.toSeq === two.bands.map(_ * 2).toSeq)
    expectReject(riff("AVI ", dibHdrl(2) ++ movi ++ movi), "declares 2 frames")

    // a duplicated video stream header is ambiguous
    expectReject(riff("AVI ", list("hdrl", avihOf(2) ++
      list("strl", strfOf(5, 4)) ++ list("strl", strfOf(5, 4))) ++ movi),
      "more than one")

    // geometry: 6 px wide needs 20-byte rows, the frames carry 16
    expectReject(riff("AVI ", dibHdrl(2, strfOf(6, 4)) ++ movi), "want stride")
    // geometry whose stride·height wraps to 12 in Int arithmetic
    expectReject(riff("AVI ", dibHdrl(1, strfOf(1 << 30, 805306371)) ++
      list("movi", chunk("00db", new Array[Byte](12)))), "exceeds the")

    // an oversized chunk length overruns its enclosing list
    val hdrl = dibHdrl(2)
    val valid = riff("AVI ", hdrl ++ movi)
    val frameLenAt = 12 + hdrl.length + 12 + 4 // first 00db's length field
    expectReject(valid.patch(frameLenAt, le32(Int.MaxValue), 4), "overruns")
    expectReject(valid.patch(frameLenAt, le32(-1), 4), "overruns")

    // a LIST too short to carry its form type
    expectReject(riff("AVI ", ascii("LIST") ++ le32(2) ++ Array[Byte](1, 2)),
      "too short for a form type")

    // only zero-length / non-frame chunks inside movi: no frames
    expectReject(riff("AVI ", dibHdrl(0) ++ list("movi",
      chunk("00db", Array.emptyByteArray) ++ chunk("idx1", randomBytes(16)))),
      "without DIB frame chunks")

    // pathological nesting must hit the depth guard, not blow the stack
    // (a StackOverflowError is outside the reject-loudly contract)
    var inner = frameChunk()
    (1 to 1000).foreach(_ => inner = list("rec ", inner))
    expectReject(riff("AVI ", dibHdrl(1) ++ inner), "nesting deeper than 16")

    // length-field sweep: every interesting value in every length slot
    // of a valid file rejects or decodes within the bound
    val lenOffsets = Seq(4, 16, 12 + hdrl.length + 4, frameLenAt) // RIFF, hdrl, movi, 00db
    val evil = Seq(0, 1, 2, 3, 4, 7, 8, 63, 65, 0x7fffffff, -1) // -1 = 0xffffffff
    var id = 12000L
    for (off <- lenOffsets; v <- evil) {
      val bytes = valid.patch(off, le32(v), 4)
      bounded("aviDibBandEnergies", id)(parse(bytes)); id += 1
    }
    // random 4-byte splats anywhere, same contract
    for (_ <- 1 to 300) {
      val bytes = valid.patch(rnd.nextInt(valid.length - 4), randomBytes(4), 4)
      bounded("aviDibBandEnergies", id)(parse(bytes)); id += 1
    }
  }
}
