package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral contracts for q104 winnowing and q105 quantization —
  * the properties the DuckDB hash-compare can't articulate: the
  * winnowing guarantee and rightmost-tie rule on crafted corpora, and
  * the quantizer's exact code values / error envelope.
  */
class PipelineOpsSpec extends SparkSpec {

  private def corpus(docs: Seq[(Long, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_pipeops").toString
    docs.map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("nonEmptyDocCount and embeddingCount re-count a table rewritten in the same session") {
    // both counts size q128's block width W and every BlockRanks path
    // choice, so a value kept from an earlier read of `dir` would
    // silently steer those for the rewritten corpus
    import spark.implicits._
    val dir = corpus(Seq((0L, "a b"), (1L, ""), (2L, "c")))
    def writeEmb(n: Int): Unit =
      (0 until n).map(i => (i.toLong, Array(1.0f, i.toFloat), i % 2))
        .toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    writeEmb(2)
    def counts = (PipelineOps.nonEmptyDocCount(spark, dir),
      PipelineOps.embeddingCount(spark, dir))
    assert(counts === ((2L, 2L)))
    Seq((0L, "a"), (1L, "b c"), (2L, ""), (3L, "d"), (4L, "e"), (5L, "f g"))
      .map { case (id, text) => (id, text, "en", "web", text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    writeEmb(5)
    assert(counts === ((5L, 5L)), "a count kept the rewritten table's old value")
  }

  private def fps(dir: String): Map[Long, Seq[(Long, Long)]] =
    PipelineOps.q104Winnowing.fn(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (d, rs) => d -> rs.map(r => (r._2, r._3)).toSeq }

  test("q104 winnowing guarantee: a shared >= w+k-1-token run yields a shared fingerprint") {
    // docs share the 6-token run "u v w x y z" (w+k-1 = 4+3-1 = 6)
    // embedded in otherwise disjoint text
    val dir = corpus(Seq(
      (0L, "alpha beta gamma u v w x y z delta epsilon zeta eta"),
      (1L, "one two three four u v w x y z five six seven")))
    val m = fps(dir)
    val shared = m(0L).map(_._2).toSet intersect m(1L).map(_._2).toSet
    assert(shared.nonEmpty,
      s"winnowing guarantee violated: no shared fingerprint, got $m")
  }

  test("q104 rightmost-tie rule: an all-equal-gram doc fingerprints positions w..n") {
    // 9 identical tokens -> 7 identical grams; every window's min ties
    // across all 4 members, rightmost wins -> selected pos = start+3
    // for starts 1..4 = positions {4,5,6,7}
    val dir = corpus(Seq((0L, Seq.fill(9)("tok").mkString(" "))))
    val m = fps(dir)
    assert(m(0L).map(_._1).sorted === Seq(4L, 5L, 6L, 7L), m.toString)
  }

  test("q104 density: fingerprint count stays within the 2/(w+1) winnowing envelope") {
    val sf = "/root/testdata/sf0.001"
    val nGrams = graft.Tables.documents(spark, sf)
      .selectExpr("size(split(lower(text), ' ')) - 2 AS n")
      .filter(col("n") >= 4)
      .agg(sum(col("n"))).head.getLong(0)
    val nFp = PipelineOps.q104Winnowing.fn(spark, sf).count()
    // expected density 2/(w+1) = 0.4 on random-ish hashes; allow slack
    // both ways (the hard bounds are 1/w and 1.0)
    assert(nFp <= nGrams * 0.6 && nFp >= nGrams * 0.2,
      s"fingerprint density off: $nFp of $nGrams grams")
  }

  test("property: winnowing guarantee holds on generated corpora (any shared 6-token run -> shared fingerprint)") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    def samples[A](g: Gen[A], n: Int): Seq[A] =
      (0 until n).flatMap(i => g.apply(Gen.Parameters.default, Seed(0xBEEFL + i)))
    val token = Gen.oneOf((0 until 40).map(i => s"t$i"))
    val gen = for {
      run <- Gen.listOfN(6, token)        // the shared w+k-1-token run
      pre1 <- Gen.listOfN(5, token); suf1 <- Gen.listOfN(5, token)
      pre2 <- Gen.listOfN(5, token); suf2 <- Gen.listOfN(5, token)
    } yield (pre1 ++ run ++ suf1, pre2 ++ run ++ suf2)
    val cases = samples(gen, 60)
    val dir = corpus(cases.zipWithIndex.flatMap { case ((a, b), i) =>
      Seq((2L * i, a.mkString(" ")), (2L * i + 1, b.mkString(" "))) })
    val m = fps(dir)
    cases.zipWithIndex.foreach { case (_, i) =>
      val shared = m(2L * i).map(_._2).toSet intersect
        m(2L * i + 1).map(_._2).toSet
      assert(shared.nonEmpty, s"case $i: guarantee violated")
    }
  }

  test("q109 diversity extremes are exact: one-token spam -> eff_vocab 1, all-distinct -> eff_vocab n") {
    val dir = corpus(Seq(
      (0L, Seq.fill(40)("spam").mkString(" ")),
      (1L, (1 to 25).map(i => s"w$i").mkString(" "))))
    val rows = PipelineOps.q109TokenDiversity.fn(spark, dir)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getDouble(2), r.getDouble(3)))).toMap
    assert(rows(0L) === ((40L, 1.0, 1.0)))
    // 25 equal probabilities 1/25: Simpson = 25*(1/25)^2 = 1/25 exactly
    // (1/25 is inexact in binary but the SAME double both times)
    assert(rows(1L)._1 === 25L)
    assert(rows(1L)._3 === 1.0 / rows(1L)._2)
    assert(math.abs(rows(1L)._3 - 25.0) < 1e-9)
  }

  test("q105 exact code values and checksum on a crafted vector") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q105").toString
    Seq((0L, Array(1.0f, -0.5f, 0.25f, 0.0f), 1))
      .toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val r = PipelineOps.q105EmbedQuantize.fn(spark, dir).collect()
    assert(r.length === 1)
    assert(r(0).getDouble(1) === 1.0)             // scale = max|x|
    assert(r(0).getLong(2) === (127L - 64 + 31))  // floor codes: 127,-64,31,0
    val exp = Seq(1.0 -> 127L, -0.5 -> -64L, 0.25 -> 31L, 0.0 -> 0L)
      .map { case (x, c) => val d = x - c * 1.0 / 127.0; d * d }.sum
    assert(r(0).getDouble(3) === exp)
  }

  test("q105 error envelope: sq_err <= dims * (scale/127)^2 on the real corpus") {
    val bad = PipelineOps.q105EmbedQuantize.fn(spark, "/root/testdata/sf0.001")
      .filter(col("sq_err") > lit(64.0) * (col("scale") / 127.0)
        * (col("scale") / 127.0))
      .count()
    assert(bad === 0L, s"$bad vectors exceed the quantization error bound")
  }

  test("q106 pairs are always a subset of q32's (both exact-verified), equal on the planted corpus") {
    val sf = "/root/testdata/sf0.001"
    val winnow = PipelineOps.q106WinnowDup.fn(spark, sf)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val full = LlmOps.q32NearDupPairs.fn(spark, sf)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // subset holds unconditionally (same exact verify, narrower index);
    // equality is a property of the planted corpus (dups share long
    // runs), pinned so an index regression shows up as a diff here
    assert(winnow.subsetOf(full), s"q106 produced a non-near-dup pair: ${winnow -- full}")
    assert(winnow === full, s"winnowing index missed: ${full -- winnow}")
  }

  test("q108 quantized retrieval recalls the exact top-5 (q34) almost everywhere") {
    val sf = "/root/testdata/sf0.001"
    def top5(df: org.apache.spark.sql.DataFrame) = df
      .collect().map(r => (r.getLong(0), r.getLong(2))).toSet
    val exact = top5(LlmOps.q34TopkCosine.fn(spark, sf))
    val quant = top5(PipelineOps.q108QuantizedAnn.fn(spark, sf))
    assert(quant.size === exact.size)
    val recall = (quant intersect exact).size.toDouble / exact.size
    // int8 codes + a 20-candidate buffer on 64-dim random vectors:
    // quantization error can swap near-equal cosines at the buffer
    // boundary, so demand near-total (not perfect) agreement
    assert(recall >= 0.8, s"quantized recall vs exact top-5: $recall")
  }

  test("q105 plan is shuffle-free below the output sort") {
    val plan = PipelineOps.q105EmbedQuantize.fn(spark, "/root/testdata/sf0.001")
      .queryExecution.executedPlan.toString
    // exactly one exchange: the range partitioning for the ORDER BY
    assert(plan.split("Exchange").length - 1 <= 1, plan)
  }

  /** Driver-side reference BPE: sequential left-to-right merge — the
    * semantics q124's positional algebra must reproduce. */
  private def refBpeFull(words: Map[String, Long], rounds: Int)
      : (Seq[(Int, String, String, Long, Long)], Map[String, Vector[String]]) = {
    var syms: Map[String, Vector[String]] =
      words.map { case (w, _) => w -> (w.map(_.toString).toVector :+ "</w>") }
    val summaries = (1 to rounds).map { r =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      for ((w, s) <- syms; i <- 0 until s.length - 1)
        pc((s(i), s(i + 1))) = pc.getOrElse((s(i), s(i + 1)), 0L) + words(w)
      val ((a, b), f) = pc.toSeq.minBy { case ((x, y), n) => (-n, x, y) }
      syms = syms.map { case (w, s) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < s.length) {
          if (i + 1 < s.length && s(i) == a && s(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += s(i); i += 1 }
        }
        w -> out.result()
      }
      val after = syms.map { case (w, s) => words(w) * s.length }.sum
      (r, a, b, f, after)
    }
    (summaries, syms)
  }

  private def refBpe(words: Map[String, Long], rounds: Int)
      : Seq[(Int, String, String, Long, Long)] = refBpeFull(words, rounds)._1

  test("q124 equals a sequential driver-side BPE trainer on the real corpus") {
    val sf = "/root/testdata/sf0.001"
    val words = graft.Tables.documents(spark, sf)
      .select(explode(expr("filter(split(lower(text), ' '), t -> t <> '')")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val expected = refBpe(words, 3)
    val got = PipelineOps.q124BpeMerges.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
  }

  test("q138 fertility equals the sequential trainer's segmentation applied per source") {
    val sf = "/root/testdata/sf0.001"
    val words = graft.Tables.documents(spark, sf)
      .select(explode(expr("filter(split(lower(text), ' '), t -> t <> '')")).as("w"))
      .groupBy("w").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val (_, syms) = refBpeFull(words, 3)
    val perSource = graft.Tables.documents(spark, sf)
      .select(col("source"),
        expr("filter(split(lower(text), ' '), t -> t <> '')").as("ts"))
      .collect().map(r => r.getString(0) -> r.getSeq[String](1))
      .groupBy(_._1).map { case (src, rows) =>
        val ws = rows.flatMap(_._2)
        val nw = ws.size.toLong
        // standalone '</w>' is a boundary artifact, not a subword
        val ns = ws.map(w => syms(w).count(_ != "</w>").toLong).sum
        (src, nw, ns, ns.toDouble / nw.toDouble)
      }.toSeq.sortBy(_._1)
    val got = PipelineOps.q138BpeApply.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSeq
    assert(got === perSource) // fertility ==: one IEEE division of equal ints
  }

  test("q124 overlap rule: a run of identical symbols merges alternately, left-to-right") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q124").toString
    // one word "aaaa" -> a a a a </w>: round 1 merges (a,a) freq 3 but
    // only positions 0 and 2 (non-overlapping) -> aa aa </w> (3 toks);
    // round 2 ties (aa,aa) vs (aa,</w>) -> '<' sorts before 'a', so
    // (aa,</w>) wins -> aa aa</w>; round 3 merges the rest.
    Seq((1L, "aaaa", "en", "s1", 4L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = PipelineOps.q124BpeMerges.fn(spark, dir).collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === Seq(
      (1, "a", "a", 3L, 3L),
      (2, "aa", "</w>", 1L, 2L),
      (3, "aa", "aa</w>", 1L, 1L)))
  }
}
