package graft.multimodal

import org.apache.spark.sql.Dataset

/** Band featurizers over media payloads: the decode step of the media
  * dedup queries (PipelineOps q128–q132) and, through them, Curate's
  * multimodal-dedup stage (4b).
  *
  *  - payloads stay OPAQUE `BINARY` end to end: Spark shuffles and
  *    spills the raw bytes without interpreting them;
  *  - each featurizer is a per-partition `mapPartitions` stage,
  *    iterator-in/iterator-out, running one strict container parse per
  *    row: binary PPM images ([[extractPpmBands]]), mono 8-bit G.711
  *    μ-law RIFF WAV audio ([[extractWavBands]]) and uncompressed-DIB
  *    RIFF AVI video ([[extractAviDibBands]]);
  *  - features are exact integers (band sums, Σ sample² energies), so
  *    they are identical under any partitioning and reproducible by any
  *    engine that can see the bytes — the DuckDB oracle recomputes them;
  *  - parses are strict: a malformed, truncated or out-of-scope payload
  *    is rejected with an `IllegalArgumentException` naming its
  *    media_id, never featurized from a guess.
  */
object Multimodal {

  /** One media row: opaque payload + routing metadata. */
  final case class Media(media_id: Long, kind: String, payload: Array[Byte])

  /** Vector featurization row: per-row-band INTEGER pixel sums from a
    * real container parse — the fixed-dimension embedding the ANN/dedup
    * family consumes (perceptual near-dup, q128). Integer sums, not
    * float means: exact under any partitioning and reproducible by any
    * engine that can see the pixel bytes.
    */
  final case class MediaBands(
      media_id: Long, width: Int, height: Int, bands: Array[Long])

  /** Strict binary-PPM (P6) header parse for [[ppmBandSums]]:
    * whitespace-separated decimal fields with '#'-to-end-of-line
    * comments legal anywhere between fields; ≤9-digit fields so Int
    * cannot overflow-wrap (a wrapped-negative width would make the
    * raster-truncation check pass vacuously); 1-byte samples only;
    * raster-truncation checked. Returns (width, height, rasterStart).
    */
  private[multimodal] def ppmHeader(p: Array[Byte], mediaId: Long)
      : (Int, Int, Int) = {
    require(p.length >= 2 && p(0) == 'P' && p(1) == '6',
      s"not a P6 PPM: media_id=$mediaId")
    var i = 2
    def nextInt(): Int = {
      while (i < p.length && (p(i) == ' ' || p(i) == '\t' || p(i) == '\n' || p(i) == '\r' || p(i) == '#')) {
        if (p(i) == '#') { while (i < p.length && p(i) != '\n') i += 1 }
        else i += 1
      }
      var v = 0
      val start = i
      while (i < p.length && p(i) >= '0' && p(i) <= '9') { v = v * 10 + (p(i) - '0'); i += 1 }
      require(i > start, s"malformed PPM header: media_id=$mediaId")
      require(i - start <= 9, s"implausible PPM header field: media_id=$mediaId")
      v
    }
    val width = nextInt(); val height = nextInt(); val maxval = nextInt()
    require(width > 0 && height > 0,
      s"degenerate PPM geometry ${width}x$height: media_id=$mediaId")
    require(maxval > 0 && maxval < 256,
      s"only 1-byte-sample PPM supported (maxval=$maxval): media_id=$mediaId")
    // exactly one whitespace byte separates header from raster — verify it
    // IS whitespace (a digit or '#' here would silently shift the raster
    // window, breaking the strict-parse contract)
    require(i < p.length &&
        (p(i) == ' ' || p(i) == '\t' || p(i) == '\n' || p(i) == '\r'),
      s"PPM header not terminated by whitespace: media_id=$mediaId")
    i += 1
    val expected = width.toLong * height * 3
    require(p.length - i >= expected,
      s"PPM raster truncated (${p.length - i} of $expected bytes): media_id=$mediaId")
    (width, height, i)
  }

  /** Per-row-band pixel sums over a binary PPM: [[ppmHeader]]'s strict
    * parse, then the raster's `height` rows are grouped into `nBands`
    * equal bands and each band's bytes summed. Returns
    * (width, height, sums); requires height % nBands == 0 — a
    * perceptual fingerprint with ragged bands would not be comparable
    * across geometries.
    */
  def ppmBandSums(p: Array[Byte], mediaId: Long, nBands: Int)
      : (Int, Int, Array[Long]) = {
    val (width, height, i) = ppmHeader(p, mediaId)
    require(nBands > 0 && height % nBands == 0,
      s"height $height not divisible into $nBands bands: media_id=$mediaId")
    val rowBytes = width * 3
    val rowsPerBand = height / nBands
    val sums = new Array[Long](nBands)
    var b = 0
    while (b < nBands) {
      var j = i + b * rowsPerBand * rowBytes
      val end = j + rowsPerBand * rowBytes
      var s = 0L
      while (j < end) { s += (p(j) & 0xff); j += 1 }
      sums(b) = s
      b += 1
    }
    (width, height, sums)
  }

  /** [[ppmBandSums]] as the mapPartitions batch seam: one parse per
    * row, iterator-in/iterator-out (a production deployment swaps the
    * parse for a codec that yields pixels and keeps the band
    * arithmetic).
    */
  def extractPpmBands(media: Dataset[Media], nBands: Int): Dataset[MediaBands] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { m =>
        val (w, h, sums) = ppmBandSums(m.payload, m.media_id, nBands)
        MediaBands(m.media_id, w, h, sums)
      }
    }
  }

  /** Acoustic featurization row: per-band INTEGER energies (sums of
    * squared linear PCM samples) from a real audio container parse —
    * the audio twin of [[MediaBands]]. Integer energies, not float
    * RMS: exact under any partitioning and reproducible by any engine
    * that can see the data bytes and the G.711 expansion formula.
    */
  final case class AudioBands(media_id: Long, bands: Array[Long])

  /** Per-band PCM ENERGY over a mono 8-bit G.711 μ-law WAV: the strict
    * RIFF/fmt/data walk (fmt tag 7, 1 channel, 8 bits, every chunk
    * bounds-checked against the payload), each data byte expanded
    * through the [[G711.ulawToPcm]] kernel, the samples
    * grouped into `nBands` equal bands, each band accumulating Σ pcm².
    * Every energy is an exact integer: |pcm| ≤ 32124, pcm² ≤ 1.033e9,
    * ×(samples/band) far below 2⁵³ for any corpus-rendered clip — the
    * q128 fixed-point discipline on the audio modality.
    */
  def wavUlawBandEnergies(p: Array[Byte], mediaId: Long, nBands: Int)
      : Array[Long] = {
    require(p.length >= 12 && p(0) == 'R' && p(1) == 'I' && p(2) == 'F' &&
        p(3) == 'F' && p(8) == 'W' && p(9) == 'A' && p(10) == 'V' && p(11) == 'E',
      s"not a RIFF/WAVE payload: media_id=$mediaId")
    def leU16(off: Int): Int = (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)
    def leU32(off: Int): Long =
      (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
        ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)
    var i = 12
    var fmtTag = -1; var channels = -1; var bits = -1
    var dataOff = -1; var dataLen = -1
    while (i + 8 <= p.length) {
      val id = new String(p, i, 4, "US-ASCII")
      val len = leU32(i + 4)
      require(len >= 0 && i + 8 + len <= p.length,
        s"WAV chunk '$id' overruns the payload: media_id=$mediaId")
      if (id == "fmt ") {
        require(len >= 16, s"fmt chunk too short: media_id=$mediaId")
        fmtTag = leU16(i + 8); channels = leU16(i + 10); bits = leU16(i + 22)
      } else if (id == "data") { dataOff = i + 8; dataLen = len.toInt }
      i += 8 + len.toInt + (len.toInt & 1)
    }
    require(fmtTag == 7 && channels == 1 && bits == 8,
      s"expected mono 8-bit G.711 mu-law WAV (tag=$fmtTag ch=$channels " +
        s"bits=$bits): media_id=$mediaId")
    require(dataOff >= 0, s"WAV without data chunk: media_id=$mediaId")
    require(nBands > 0 && dataLen > 0 && dataLen % nBands == 0,
      s"$dataLen samples not divisible into $nBands bands: media_id=$mediaId")
    val per = dataLen / nBands
    val out = new Array[Long](nBands)
    var j = 0
    while (j < dataLen) {
      val pcm = G711.ulawToPcm(p(dataOff + j)).toLong
      out(j / per) += pcm * pcm
      j += 1
    }
    out
  }

  /** [[wavUlawBandEnergies]] as the mapPartitions batch seam (the
    * [[extractPpmBands]] shape — one decoder pass per partition).
    */
  def extractWavBands(media: Dataset[Media], nBands: Int): Dataset[AudioBands] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map(m => AudioBands(m.media_id,
        wavUlawBandEnergies(m.payload, m.media_id, nBands)))
    }
  }

  /** Video featurization row — the video twin of [[MediaBands]]/
    * [[AudioBands]]: per-band INTEGER pixel energies over every frame
    * of a decoded uncompressed-DIB AVI, plus the stream geometry the
    * container declared. */
  final case class VideoBands(media_id: Long, width: Int, height: Int,
      n_frames: Int, bands: Array[Long])

  /** Per-band pixel ENERGY over an uncompressed-DIB AVI (RIFF form
    * 'AVI ', BI_RGB 24-bit '##db' streams): the strict RIFF walk
    * (depth-bounded LIST recursion, chunk bounds checked — the WAV-walk
    * contract on the video container), stream geometry taken from the
    * single 'strf' BITMAPINFOHEADER and ENFORCED against every frame
    * (frame length must equal stride·height with stride = 4-byte-
    * aligned 3·width, the DIB row-padding rule; computed in Long, and a
    * frame larger than the payload is rejected, so a crafted geometry
    * cannot wrap to a small frame length), frame count cross-checked
    * against the 'avih' header's dwTotalFrames. Rows decode BOTTOM-UP (positive
    * biHeight — DIB's storage order; top-down negative-height files
    * are out of scope and rejected loudly), so band b of the DECODED
    * image reads stored row height−1−r — an order-SENSITIVE feature
    * that fails if a consumer skips the flip. Each band accumulates
    * Σ byte² over its row group's PIXEL bytes across all frames
    * (padding bytes excluded); every energy is an exact integer
    * (≤ 255²·stride·frames ≪ 2⁵³ — the q128/q129 fixed-point
    * discipline on the video modality).
    */
  def aviDibBandEnergies(p: Array[Byte], mediaId: Long, nBands: Int)
      : VideoBands = {
    def fail(msg: String): Nothing =
      throw new IllegalArgumentException(s"$msg: media_id=$mediaId")
    if (p.length < 12 || p(0) != 'R' || p(1) != 'I' || p(2) != 'F' ||
        p(3) != 'F' || new String(p, 8, 4, "US-ASCII") != "AVI ")
      fail("not a RIFF/AVI payload")
    def leU16(off: Int): Int = (p(off) & 0xff) | ((p(off + 1) & 0xff) << 8)
    def leU32(off: Int): Long =
      (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
        ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)
    var haveStrf = false
    var biW = -1; var biH = -1; var biBits = -1; var biComp = -1L
    var totalFrames = -1L
    val frames = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
    def isFrameId(id: String): Boolean =
      id.length == 4 && id(0).isDigit && id(1).isDigit && id.endsWith("db")
    def walk(start: Int, end: Int, inMovi: Boolean, depth: Int): Unit = {
      if (depth > 16)
        fail(s"AVI list nesting deeper than 16 at $start — not a real AVI")
      var i = start
      while (i + 8 <= end) {
        val id = new String(p, i, 4, "US-ASCII")
        val len = leU32(i + 4)
        if (len < 0 || i + 8 + len > end)
          fail(s"AVI chunk '$id' overruns its enclosing list ($len bytes at $i)")
        if (id == "RIFF" || id == "LIST") {
          if (len < 4) fail(s"AVI list at $i too short for a form type")
          val form = new String(p, i + 8, 4, "US-ASCII")
          walk(i + 12, i + 8 + len.toInt,
            inMovi || form == "movi" || form == "rec ", depth + 1)
        } else if (id == "avih") {
          if (len < 32) fail(s"avih chunk too short ($len bytes)")
          totalFrames = leU32(i + 8 + 16)
        } else if (id == "strf") {
          if (len < 40) fail(s"strf chunk too short for BITMAPINFOHEADER ($len bytes)")
          if (haveStrf) fail("more than one video strf stream header")
          haveStrf = true
          biW = leU32(i + 8 + 4).toInt; biH = leU32(i + 8 + 8).toInt
          biBits = leU16(i + 8 + 14); biComp = leU32(i + 8 + 16)
        } else if (inMovi && isFrameId(id) && len > 0) {
          frames += ((i + 8, len.toInt))
        }
        i += 8 + len.toInt + (len.toInt & 1) // word-aligned, like WAV
      }
    }
    walk(0, p.length, inMovi = false, depth = 0)
    if (!haveStrf) fail("AVI without a strf BITMAPINFOHEADER")
    if (biComp != 0L || biBits != 24)
      fail(s"expected uncompressed BI_RGB 24-bit DIB video (compression=" +
        s"$biComp bits=$biBits) — compressed streams are out of scope")
    if (biW <= 0 || biH <= 0)
      fail(s"non-positive DIB geometry ${biW}x$biH (top-down negative-height " +
        "DIBs are out of scope)")
    if (frames.isEmpty) fail("AVI without DIB frame chunks in a movi list")
    if (totalFrames >= 0 && totalFrames != frames.size)
      fail(s"avih declares $totalFrames frames but the movi list holds ${frames.size}")
    // geometry in Long: in Int, a crafted width/height wraps
    // stride·height to a small frame length that a tiny chunk matches
    val strideL = (biW * 3L + 3) / 4 * 4
    if (strideL * biH > p.length)
      fail(s"DIB geometry ${biW}x$biH needs ${strideL * biH}-byte frames, " +
        s"which exceeds the ${p.length}-byte payload")
    val stride = strideL.toInt
    val frameLen = stride * biH
    if (nBands <= 0 || biH % nBands != 0)
      fail(s"$biH rows not divisible into $nBands bands")
    val rowsPerBand = biH / nBands
    val out = new Array[Long](nBands)
    frames.foreach { case (off, len) =>
      if (len != frameLen)
        fail(s"DIB frame is $len bytes, want stride($stride)x$biH = $frameLen")
      var r = 0
      while (r < biH) {
        val rowOff = off + (biH - 1 - r) * stride // bottom-up storage
        val b = r / rowsPerBand
        var c = 0
        var acc = 0L
        while (c < biW * 3) {
          val v = (p(rowOff + c) & 0xff).toLong
          acc += v * v
          c += 1
        }
        out(b) += acc
        r += 1
      }
    }
    VideoBands(mediaId, biW, biH, frames.size, out)
  }

  /** [[aviDibBandEnergies]] as the mapPartitions batch seam. */
  def extractAviDibBands(media: Dataset[Media], nBands: Int)
      : Dataset[VideoBands] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map(m => aviDibBandEnergies(m.payload, m.media_id, nBands))
    }
  }

  /** ITU-T G.711 expansion, transcribed from the recommendation's
    * segmented-companding definition (the classic CCITT reference
    * arithmetic): 8-bit log-companded byte -> 16-bit linear PCM.
    * Public so the audio spec can bound it against
    * javax.sound.sampled's independent ULAW converter.
    */
  object G711 {
    /** mu-law byte -> linear (range ±32124). */
    def ulawToPcm(b: Byte): Int = {
      val u = (~b) & 0xff
      val t = (((u & 0x0f) << 3) + 0x84) << ((u & 0x70) >> 4)
      if ((u & 0x80) != 0) 0x84 - t else t - 0x84
    }
  }
}
