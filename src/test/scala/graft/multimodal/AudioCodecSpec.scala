package graft.multimodal

import graft.SparkSpec
import graft.multimodal.Multimodal._

/** The μ-law audio path behind q129/q132's fingerprints:
  *
  *  - the G.711 μ-law expansion is bounded against the JDK's OWN ULAW
  *    FormatConversionProvider (javax.sound.sampled) — an independent
  *    decoder — exactly, for all 256 code bytes;
  *  - wavUlawBandEnergies' RIFF walk (extra chunks, odd-length pads, a
  *    fmt extension) yields band energies equal to Σ pcm² over the
  *    JDK-decoded samples;
  *  - every other WAV codec or geometry is rejected loudly, never
  *    featurized as if it were mono 8-bit μ-law;
  *  - extractWavBands runs beside the image and video seams over one
  *    mixed-media Dataset.
  */
class AudioCodecSpec extends SparkSpec {

  private def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
  private def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
    ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
  private def chunk(id: String, data: Array[Byte]): Array[Byte] =
    id.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
      (if (data.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)

  /** Minimal canonical WAV: `extra` chunks, fmt (with optional
    * extension), data.
    */
  private def wavOf(fmtTag: Int, channels: Int, rate: Int, bits: Int,
      blockAlign: Int, ext: Array[Byte], data: Array[Byte],
      extra: Array[Byte] = Array.emptyByteArray): Array[Byte] = {
    val fmtBody = le16(fmtTag) ++ le16(channels) ++ le32(rate) ++
      le32(rate * blockAlign) ++ le16(blockAlign) ++ le16(bits) ++ ext
    val body = "WAVE".getBytes("US-ASCII") ++ extra ++ chunk("fmt ", fmtBody) ++
      chunk("data", data)
    "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
  }

  /** Decode μ-law bytes through the JDK's converter (independent of
    * graft's arithmetic): returns one linear sample per code byte.
    */
  private def jdkUlaw(codes: Array[Byte]): Array[Int] = {
    import javax.sound.sampled._
    val src = new AudioFormat(AudioFormat.Encoding.ULAW, 8000f, 8, 1, 1, 8000f, false)
    val dst = new AudioFormat(AudioFormat.Encoding.PCM_SIGNED,
      8000f, 16, 1, 2, 8000f, false) // little-endian s16
    val in = new AudioInputStream(
      new java.io.ByteArrayInputStream(codes), src, codes.length.toLong)
    val out = AudioSystem.getAudioInputStream(dst, in).readAllBytes()
    assert(out.length == codes.length * 2, "JDK converter frame accounting")
    Array.tabulate(codes.length) { i =>
      val raw = (out(2 * i) & 0xff) | ((out(2 * i + 1) & 0xff) << 8)
      (raw << 16) >> 16
    }
  }

  test("G.711 mu-law expansion matches the JDK converter for all 256 code bytes") {
    val codes = Array.tabulate(256)(i => i.toByte)
    val jdkU = jdkUlaw(codes)
    for (i <- 0 until 256) {
      assert(G711.ulawToPcm(codes(i)) == jdkU(i),
        s"mu-law code 0x${i.toHexString}: graft ${G711.ulawToPcm(codes(i))} vs JDK ${jdkU(i)}")
    }
  }

  test("mu-law WAV decodes through the RIFF walk: G.711 geometry and decoded-byte mean") {
    // 24 code bytes in 4 bands of 6 samples, behind an odd-length LIST
    // chunk (pad byte) and an 18-byte fmt (cbSize extension): the walk
    // must step over both to find fmt and data
    val codes = Array.tabulate(24)(i => (i * 19 + 3).toByte)
    val wav = wavOf(7, channels = 1, rate = 8000, bits = 8, blockAlign = 1,
      ext = le16(0), data = codes,
      extra = chunk("LIST", "INFOxyz".getBytes("US-ASCII")))
    val got = wavUlawBandEnergies(wav, 70L, 4)
    val pcm = jdkUlaw(codes).map(_.toLong)
    assert(got.toSeq === pcm.grouped(6).map(_.map(x => x * x).sum).toSeq)
    // the mean decoded square over all samples is the band total / n
    assert(got.sum.toDouble / codes.length === pcm.map(x => x * x).sum.toDouble / pcm.length)
    // one band is the whole clip; a band per sample is each pcm²
    assert(wavUlawBandEnergies(wav, 70L, 1).toSeq === Seq(got.sum))
    assert(wavUlawBandEnergies(wav, 70L, 24).toSeq === pcm.map(x => x * x).toSeq)
  }

  test("malformed compressed WAVs are rejected loudly, never guessed at") {
    def reject(bytes: Array[Byte], msg: String, nBands: Int = 4): Unit = {
      val e = intercept[IllegalArgumentException] {
        wavUlawBandEnergies(bytes, 74L, nBands)
      }
      assert(e.getMessage.contains(msg), s"wrong rejection message: ${e.getMessage}")
    }
    val data = Array.tabulate[Byte](16)(i => (i * 7).toByte)
    val ok = wavOf(7, 1, 8000, 8, 1, Array.emptyByteArray, data)
    assert(wavUlawBandEnergies(ok, 75L, 4).length == 4) // the base fixture decodes
    // other codecs are out of scope, not decoded as mu-law: A-law (6),
    // IMA ADPCM (0x11), 8-bit PCM (1)
    for (tag <- Seq(6, 0x11, 1))
      reject(wavOf(tag, 1, 8000, 8, 1, Array.emptyByteArray, data), s"tag=$tag ")
    // mu-law with stereo or a 16-bit sample width
    reject(wavOf(7, 2, 8000, 8, 2, Array.emptyByteArray, data), "ch=2 ")
    reject(wavOf(7, 1, 8000, 16, 2, Array.emptyByteArray, data), "bits=16")
    // fmt too short to hold its fields
    reject("RIFF".getBytes("US-ASCII") ++ le32(4 + 8 + 8) ++ "WAVE".getBytes("US-ASCII") ++
      chunk("fmt ", le16(7) ++ le16(1) ++ le32(8000)), "fmt chunk too short")
    // fmt without data
    reject(ok.take(12 + 8 + 16), "without data chunk")
    // a data length past the end of the payload
    reject(ok.dropRight(3), "overruns the payload")
    // ragged bands: 16 samples do not split into 3
    reject(ok, "not divisible into 3 bands", nBands = 3)
    // not RIFF/WAVE at all
    reject(ok.updated(8, 'X'.toByte), "not a RIFF/WAVE")
  }

  test("compressed audio rides the batched Spark featurizer seam with images and video") {
    import spark.implicits._
    val codes = Array.tabulate(8)(i => (i * 31).toByte)
    val ulaw = wavOf(7, 1, 8000, 8, 1, Array.emptyByteArray, codes)
    val raster = Array.tabulate[Byte](12)(i => (i * 3).toByte)
    val ppm = "P6 2 2 255\n".getBytes("US-ASCII") ++ raster
    // 2x2 24-bit DIB: stride 8 (6 pixel bytes + 2 padding), one frame
    val frame = Array.tabulate[Byte](16)(i => (i * 11).toByte)
    val avi = {
      def list(form: String, inner: Array[Byte]) =
        chunk("LIST", form.getBytes("US-ASCII") ++ inner)
      val strf = chunk("strf", le32(40) ++ le32(2) ++ le32(2) ++ le16(1) ++
        le16(24) ++ le32(0) ++ le32(16) ++ Array.fill[Byte](16)(0))
      val body = "AVI ".getBytes("US-ASCII") ++ list("hdrl", list("strl", strf)) ++
        list("movi", chunk("00db", frame))
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    val media = Seq(Media(80L, "audio", ulaw), Media(81L, "image", ppm),
      Media(82L, "video", avi)).toDS().repartition(2)
    def kind(k: String) = media.filter(_.kind == k)
    val audio = extractWavBands(kind("audio"), 2).collect()
    val image = extractPpmBands(kind("image"), 2).collect()
    val video = extractAviDibBands(kind("video"), 2).collect()
    val pcm = jdkUlaw(codes).map(_.toLong)
    assert(audio.map(a => (a.media_id, a.bands.toSeq)).toSeq ===
      Seq((80L, pcm.grouped(4).map(_.map(x => x * x).sum).toSeq)))
    assert(image.map(b => (b.media_id, b.width, b.height, b.bands.toSeq)).toSeq ===
      Seq((81L, 2, 2, raster.grouped(6).map(_.map(_ & 0xff).sum.toLong).toSeq)))
    // bottom-up rows: decoded row 0 is stored row 1; padding excluded
    val rowEnergy = (r: Int) => frame.slice(r * 8, r * 8 + 6).map(b => (b & 0xffL) * (b & 0xff)).sum
    assert(video.map(v => (v.media_id, v.width, v.height, v.n_frames, v.bands.toSeq)).toSeq ===
      Seq((82L, 2, 2, 1, Seq(rowEnergy(1), rowEnergy(0)))))
  }
}
