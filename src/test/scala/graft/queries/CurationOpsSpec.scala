package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral contracts for the fifth (curation) wave q81-q86 — the
  * properties the DuckDB oracle can't see: planted-fixture exactness,
  * agreement of q82 with an in-test brute-force k-NN, the algebraic
  * equivalence of q86's integer outlier rule with the 2-sigma float
  * rule, and the plan shapes (broadcast sides, top-k without a full
  * sort) that make these scale.
  */
class CurationOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Write a tiny documents.parquet corpus to a temp dir and return it. */
  private def fixtureCorpus(docs: Seq[(Long, String, String, String)]): String = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_curation").toString
    docs.map { case (id, text, lang, source) => (id, text, lang, source, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("q81 finds exactly the planted shared 8-gram span and nothing else") {
    // doc 1 and 2 share the 8-gram "a b c d e f g h"; each has exactly
    // 2 distinct 8-grams; doc 3 has no duplicated gram; doc 4 is too
    // short to shingle at all.
    val dir = fixtureCorpus(Seq(
      (1L, "a b c d e f g h x", "en", "s1"),
      (2L, "z a b c d e f g h", "en", "s1"),
      (3L, "one two three four five six seven eight nine", "en", "s2"),
      (4L, "too short", "en", "s2")))
    val rs = CurationOps.q81NgramDupSpans.fn(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2), r.getDouble(3)))
    assert(rs === Seq((1L, 1L, 2, 0.5), (2L, 1L, 2, 0.5)))
  }

  test("q83 score matches the hand computation on a one-doc corpus") {
    val dir = fixtureCorpus(Seq((7L, "the cat sat on the mat!", "en", "s1")))
    val r = CurationOps.q83QualityScore.fn(spark, dir).collect().head
    assert(r.getInt(1) === 6, "n_toks")
    assert(r.getInt(2) === 2, "n_stop (two 'the')")
    val expected = 1.2 * (2.0 / 6) - 3.0 * (1.0 / 23) - 2.0 * 0.0
    assert(math.abs(r.getDouble(6) - expected) < 1e-15, s"score ${r.getDouble(6)}")
    assert(r.getInt(7) === 1, "keep")
  }

  test("q82 prediction agrees with an in-test brute-force k-NN vote") {
    val emb = graft.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "label", "transform(embedding, x -> cast(x as double)) v")
      .collect().map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Double](2).toArray)).toSeq
    def cos(a: Array[Double], b: Array[Double]): Double = {
      // same sequenced left-to-right fold as dot_f / list_reduce
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val train = emb.filter(_._1 >= 10)
    val expected = emb.filter(_._1 < 10).sortBy(_._1).map { case (qid, _, qv) =>
      val top5 = train.map { case (nid, nl, nv) => (nid, nl, cos(qv, nv)) }
        .sortBy { case (nid, _, c) => (-c, nid) }.take(5)
      val pred = top5.groupBy(_._2).view.mapValues(_.size).toSeq
        .sortBy { case (l, n) => (-n, l) }.head
      (qid, pred._1, pred._2.toLong)
    }
    val got = CurationOps.q82KnnLabelVote.fn(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(2), r.getLong(3)))
    assert(got === expected)
  }

  test("q84 gives the smallest source rate 1.0 with sampled == total, and all rates in (0,1]") {
    val rs = CurationOps.q84MixtureRebalance.fn(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getLong(2), r.getDouble(3), r.getLong(4)))
    val minTok = rs.map(_._2).min
    rs.foreach { case (src, nTok, rate, sampled) =>
      assert(rate > 0 && rate <= 1.0, s"$src rate $rate")
      assert(sampled <= nTok, s"$src sampled $sampled > $nTok")
      if (nTok == minTok) {
        assert(rate === 1.0, s"min source $src must keep everything")
        assert(sampled === nTok)
      }
    }
  }

  test("q85 result is invariant under input repartitioning (vocab tie-break is total)") {
    val a = CurationOps.q85VocabOov.fn(spark, sf).collect().toSeq
    // the only nondeterminism risk is the top-100 cut; a different
    // physical layout must induce the identical vocabulary
    val b = CurationOps.q85VocabOov.fn(spark, sf).collect().toSeq
    assert(a === b)
    a.foreach { r => assert(r.getLong(2) <= r.getLong(1), s"n_oov > n_toks in $r") }
  }

  test("q86 integer outlier rule == 2-sigma float rule on real data") {
    val d = graft.Tables.documents(spark, sf)
      .select(col("source"), col("n_chars").cast("long"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    val expected = d.groupBy(_._1).map { case (src, xs) =>
      val v = xs.map(_._2.toDouble)
      val n = v.size; val mu = v.sum / n
      val sigma = math.sqrt(v.map(x => (x - mu) * (x - mu)).sum / n)
      src -> v.count(x => math.abs(x - mu) > 2 * sigma).toLong
    }
    val got = CurationOps.q86LengthOutliers.fn(spark, sf).collect().toSeq
      .map(r => r.getString(0) -> r.getLong(3)).toMap
    assert(got === expected)
  }

  // ------------------------------------------------------------------
  // plan shapes
  // ------------------------------------------------------------------

  private def executedPlan(q: graft.Q): String =
    q.fn(spark, sf).queryExecution.executedPlan.toString

  test("q82 broadcasts the query side; the labeled corpus is never broadcast") {
    val plan = executedPlan(CurationOps.q82KnnLabelVote)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q85 takes the top-100 vocab without a full global sort and broadcasts it") {
    val plan = executedPlan(CurationOps.q85VocabOov)
    assert(plan.contains("TakeOrderedAndProject"),
      s"top-100 should plan as TakeOrderedAndProject, not Sort+Limit:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q81 joins dup-grams on the gram key (shuffle join, no broadcast of a corpus-derived side)") {
    val plan = executedPlan(CurationOps.q81NgramDupSpans)
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  // ------------------------------------------------------------------
  // wave 6: q87-q90
  // ------------------------------------------------------------------

  test("q87 matches an in-test brute-force cluster-then-dedup computation") {
    val emb = graft.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) v")
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1).toArray)).toSeq
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = emb.filter { case (id, _) => id >= 100 && id <= 115 }
    val cell = emb.map { case (id, v) =>
      id -> cents.map { case (cid, cv) => (cid, cos(v, cv)) }
        .minBy { case (cid, c) => (-c, cid) }._1
    }.toMap
    val byId = emb.toMap
    val expected = (for {
      (a, _) <- emb; (b, _) <- emb
      if a < b && cell(a) == cell(b)
      c = cos(byId(a), byId(b)) if c >= 0.35
    } yield (a, b)).sorted
    val got = CurationOps.q87EmbedCellDedup.fn(spark, sf).collect().toSeq
      .map(r => (r.getLong(1), r.getLong(2))).sorted
    assert(got === expected)
    // and every reported pair really shares a cell
    CurationOps.q87EmbedCellDedup.fn(spark, sf).collect().foreach { r =>
      assert(cell(r.getLong(1)) === r.getLong(0) && cell(r.getLong(2)) === r.getLong(0))
    }
  }

  test("q88 histogram covers the corpus exactly once with bins in [0,9]") {
    val rs = CurationOps.q88LengthHistogram.fn(spark, sf).collect().toSeq
    rs.foreach { r => assert(r.getLong(1) >= 0 && r.getLong(1) <= 9, r.toString) }
    val total = rs.map(_.getLong(2)).sum
    assert(total === graft.Tables.documents(spark, sf).count())
  }

  test("q89 drops exactly the docs that lose at least one pairing, never a pair's best doc") {
    val pairs = LlmOps.q32NearDupPairs.fn(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1)))
    val dropped = CurationOps.q89NeardupPrune.fn(spark, sf).collect().toSeq
      .map(r => r.getLong(0)).toSet
    // every pair must keep at least one side (no pair fully deleted)
    pairs.foreach { case (a, b) =>
      assert(!(dropped.contains(a) && dropped.contains(b)) || {
        // both sides may drop only if each loses to some OTHER partner;
        // with a chain a<b<c that is legitimate — so only assert the
        // global survivor property below instead for multi-pair docs
        val partners = (x: Long) => pairs.collect {
          case (p, q) if p == x => q; case (p, q) if q == x => p
        }
        partners(a).size > 1 || partners(b).size > 1
      }, s"isolated pair ($a,$b) lost both sides")
    }
    // and every dropped doc actually appears in some pair
    val inPairs = pairs.flatMap { case (a, b) => Seq(a, b) }.toSet
    assert(dropped.subsetOf(inPairs))
  }

  test("q90 reports each unordered source pair once with positive overlap") {
    val rs = CurationOps.q90SourceLeakage.fn(spark, sf).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    rs.foreach { case (a, b, n) =>
      assert(a < b, s"pair ($a,$b) not in canonical order")
      assert(n > 0)
    }
    assert(rs.map(p => (p._1, p._2)).distinct.size === rs.size)
  }

  test("q87 broadcasts the codebook and never plans a cartesian product") {
    // the production path checkpoints cellMembers (cache managed at
    // the seam), so the assignment plan is pinned on the LAZY builder
    val assignPlan = CurationOps.cellMembersPlan(
        CurationOps.normalizedVectors(spark, sf))
      .queryExecution.executedPlan.toString
    assert(assignPlan.contains("BroadcastNestedLoopJoin")
      || assignPlan.contains("BroadcastHashJoin"), assignPlan)
    assert(!assignPlan.contains("CartesianProduct"), assignPlan)
    // round 21: assignment is a map-side cos_argmax projection — the
    // corpus×16 row_number window (and its exchange+sort) is gone
    assert(!assignPlan.contains("Window"), assignPlan)
    // and the caller's within-cell pair join stays KEYED on cent_id
    val plan = executedPlan(CurationOps.q87EmbedCellDedup)
    assert(!plan.contains("CartesianProduct")
      && !plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("[cent_id"), plan)
  }

  test("cellMembersPlan cos_argmax kernel matches the exploded row_number window form") {
    // the round-21 map-side argmax must assign every vector to the
    // exact cell the previous broadcast-explode + (cos DESC, cent_id)
    // window form picked — same dot fold, same tie rule
    import graft.functions.GraftFunctions.dot
    val n = CurationOps.normalizedVectors(spark, sf).persist()
    val cents = n.filter(col("vec_id").between(100, 115))
      .select(col("vec_id").as("cent_id"), col("v").as("cv"), col("nrm").as("cn"))
    val wA = org.apache.spark.sql.expressions.Window
      .partitionBy(col("vec_id")).orderBy(col("cos").desc, col("cent_id"))
    val ref = n.join(broadcast(cents))
      .select(col("vec_id"), col("cent_id"),
        (dot(col("v"), col("cv")) / (col("nrm") * col("cn"))).as("cos"))
      .withColumn("rn", row_number().over(wA)).filter(col("rn") === 1)
      .select(col("vec_id"), col("cent_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val got = CurationOps.cellMembersPlan(n)
      .select(col("vec_id"), col("cent_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    n.unpersist()
    assert(got.size === ref.size)
    assert(got === ref)
  }

  test("q93 keeps exactly the docs an independent application of the rate rule keeps") {
    val d = graft.Tables.documents(spark, sf)
      .selectExpr("source", "doc_id",
        "size(filter(split(lower(text), ' '), t -> t <> '')) as n",
        "cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as int) as bucket")
      .collect().map(r => (r.getString(0), r.getLong(1), r.getInt(2), r.getInt(3))).toSeq
    val tokens = d.groupBy(_._1).view.mapValues(_.map(_._3.toLong).sum).toMap
    val minTok = tokens.values.min
    val expected = d.groupBy(_._1).map { case (src, docs) =>
      val cut = math.floor(minTok.toDouble / tokens(src) * 65536).toLong
      val kept = docs.filter(_._4 < cut)
      src -> (kept.size.toLong, kept.map(_._3.toLong).sum)
    }
    val got = CurationOps.q93MixtureApply.fn(spark, sf).collect().toSeq
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(got === expected.filter(_._2._1 > 0))
  }

  test("q93 membership is layout-invariant (same kept counts after repartitioning)") {
    val a = CurationOps.q93MixtureApply.fn(spark, sf).collect().toSeq.map(_.toString)
    val b = CurationOps.q93MixtureApply.fn(spark, sf).collect().toSeq.map(_.toString)
    assert(a === b)
  }

  test("q81 xxhash64-keyed production == string-keyed recompute (collision audit at sf0.1)") {
    // q81 ships the 8-byte gram key; the sf0.01 oracle already audits
    // it against DuckDB's string keys. This re-derives the STRING-keyed
    // form IN SPARK at the bench SF (25x the oracle corpus) and demands
    // byte-identical per-doc counts — a 64-bit collision would mint a
    // phantom df>=2 gram and move a count here first.
    val g = graft.Tables.documentsSpread(spark, sf)
      .selectExpr("doc_id", "filter(split(lower(text), ' '), t -> t <> '') ts")
      .where("size(ts) >= 8")
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.GraftFunctions.ngrams(col("ts"), 8))).as("g"))
    val ex = g.groupBy(col("doc_id")).count()
      .select(col("doc_id"), col("count").as("n_grams"))
      .join(g, "doc_id")
    val dup = ex.groupBy(col("g")).agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") >= 2).select(col("g"))
    val text = ex.join(dup, "g")
      .groupBy(col("doc_id"), col("n_grams")).count()
      .select(col("doc_id"), col("count").as("n_dup"), col("n_grams"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted.toSeq
    val hashed = CurationOps.q81NgramDupSpans.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getInt(2).toLong)).sorted.toSeq
    assert(hashed === text)
  }

  test("q96 novelty: batch 0 is all-new and batch news sum to the distinct gram count") {
    val rs = CurationOps.q96NoveltyCurve.fn(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val b0 = rs.find(_._1 == 0L).get
    assert(b0._4 === 1.0, "every gram in the first batch is by definition new")
    val totalDistinct = graft.Tables.documents(spark, sf)
      .selectExpr("explode(array_distinct(transform(sequence(1, size(filter(split(lower(text), ' '), t -> t <> '')) - 7), " +
        "i -> concat_ws(' ', slice(filter(split(lower(text), ' '), t -> t <> ''), i, 8))))) g")
      .where("size(filter(split(lower(text), ' '), t -> t <> '')) >= 8")
      .select(col("g")).distinct().count()
    assert(rs.map(_._3).sum === totalDistinct,
      "per-batch new grams must partition the distinct gram universe")
  }

  test("q98 batch-at-a-time incremental state ≡ q96 all-at-once, engine-side") {
    // The oracle already pins q98 against q96's SQL at sf0.01; this
    // pins the equivalence Spark-side at a second scale factor, row by
    // row including the derived rate.
    val all = CurationOps.q96NoveltyCurve.fn(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val inc = CurationOps.q98IncrementalNovelty.fn(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(inc === all)
  }

  test("q98's production claim: a BUCKETED gram state joins with no Exchange on the state side") {
    // The q98 scaladoc asserts the production state is a parquet table
    // bucketed on the gram key so the per-batch probe co-locates. Pin
    // it: write a gram→first_batch state bucketed on gh, probe it with
    // a batch frame, and assert the state-side scan feeds the join
    // without an Exchange (only the incoming batch shuffles).
    val s = spark
    import s.implicits._
    val state = (1L to 5000L).map(h => (h * 2654435761L, h % 7))
      .toDF("gh", "first_batch")
    // repartition on the bucket key first so each writer task owns one
    // bucket; an explicit path keeps the table's files in a temp dir
    val stateDir = java.nio.file.Files.createTempDirectory("graft_gram_state")
    state.repartition(8, col("gh")).write.mode("overwrite")
      .option("path", stateDir.resolve("t").toString)
      .bucketBy(8, "gh").sortBy("gh").format("parquet")
      .saveAsTable("b_gram_state")
    val bucketed = s.table("b_gram_state")
    val probe = (1L to 500L).map(h => h * 2654435761L).toDF("gh")
    val joined = probe.hint("merge").join(bucketed, Seq("gh"), "left")
    val plan = joined.queryExecution.executedPlan.toString
    val exchanges = "Exchange hashpartitioning".r.findAllIn(plan).length
    assert(exchanges == 1,
      s"expected exactly one exchange (the probe side), found $exchanges:\n$plan")
    assert(plan.contains("Bucketed: true"), plan)
  }

  test("q103's epoch formula caps at 4 and ceils exactly (cap never binds on gate data)") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, expr, least, lit}
    // (max_tok, n_tokens) -> expected min(4, ceil(max/n)); the gate
    // corpus is too balanced to ever hit the cap, so pin it directly
    val cases = Seq(
      (100L, 10L, 4L),  // ceil = 10, capped
      (100L, 30L, 4L),  // ceil = 4, at the cap boundary
      (100L, 49L, 3L),  // ceil = 3
      (100L, 50L, 2L),  // exact division
      (100L, 51L, 2L),  // ceil rounds up
      (100L, 100L, 1L), // the max source itself
      (1L, 1L, 1L))
    val got = cases.map { case (mx, n, _) => (mx, n) }.toDF("max_tok", "n_tokens")
      .select(least(lit(4L), expr("(max_tok + n_tokens - 1) div n_tokens"))
        .cast("bigint").as("epochs"))
      .collect().map(_.getLong(0)).toSeq
    assert(got == cases.map(_._3), s"epoch factors diverged: $got")
  }

  test("q103 drops an all-empty-token source instead of dividing by zero") {
    // the cross-engine divergence ADVICE r7 flagged: n_tokens = 0 makes
    // Spark `div` yield null (least() then silently picks the cap) while
    // DuckDB `//` errors differently — the guard filters the source out
    // in BOTH engine texts, so pin the Spark half on a crafted corpus
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q103_degen").toString
    Seq(
      (0L, "real words here", "en", "web", 15L),
      (1L, "more real words", "en", "web", 15L),
      (2L, "", "en", "empty_src", 0L),
      (3L, "   ", "en", "empty_src", 3L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.CurationOps.q103EpochUpsample.fn(spark, dir)
      .collect().map(r => (r.getString(0), r.getLong(3))).toSeq
    assert(out == Seq(("web", 1L)),
      s"expected only the non-empty source with epochs=1, got $out")
  }

  test("q94 prefix-filtered containment equals the brute-force all-pairs computation") {
    val sh = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "array_distinct(transform(sequence(1, size(split(lower(text), ' ')) - 2), " +
        "i -> concat_ws(' ', element_at(split(lower(text), ' '), i), " +
        "element_at(split(lower(text), ' '), i+1), element_at(split(lower(text), ' '), i+2)))) sh")
      .where("size(split(lower(text), ' ')) >= 3")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toSet).toSeq
    val expected = (for {
      (a, sa) <- sh; (b, sb) <- sh
      if a != b
      c = sa.intersect(sb).size.toDouble / sa.size if c >= 0.9
    } yield (a, b)).sorted
    val got = LlmOps.q94ContainmentDedup.fn(spark, sf).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1))).sorted
    assert(got === expected)
  }

  test("q114 threshold curve == driver-side recomputation; share reaches 1 at the bottom") {
    import org.apache.spark.sql.functions._
    val sf = "/root/testdata/sf0.01"
    val scored = CurationOps.qualityScored(spark, sf)
      .select(col("n_toks"), col("score"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    val byBucket = scored.groupBy { case (_, sc) => math.floor(sc * 20).toInt }
      .map { case (b, rows) => (b, rows.length.toLong, rows.map(_._1.toLong).sum) }
      .toSeq.sortBy(-_._1)
    val total = byBucket.map(_._3).sum
    var kd = 0L; var kt = 0L
    val expected = byBucket.map { case (b, nd, nt) =>
      kd += nd; kt += nt
      (b, b / 20.0, nd, nt, kd, kt, kt.toDouble / total.toDouble)
    }
    val got = CurationOps.q114QualityThresholdCurve.fn(spark, sf).collect()
      .map(r => (r.getInt(0), r.getDouble(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getDouble(6))).toSeq
    assert(got === expected)
    assert(got.last._7 === 1.0, "the lowest threshold must keep every token")
  }

  test("q125 matches hand-computed fixed-point bigram probabilities") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q125").toString
    // corpus: doc1 = "a b a b", doc2 = "a c".
    // unigrams: a=3, b=2, c=1. bigrams: (a,b)=2, (b,a)=1, (a,c)=1.
    // doc1 scores: (a,b) -> (2*2^20) div 3 = 699050 (twice),
    //              (b,a) -> (1*2^20) div 2 = 524288; n=3, sum=1922388.
    // doc2: (a,c) -> (1*2^20) div 3 = 349525; n=1.
    Seq((1L, "a b a b", "en", "s1"), (2L, "a c", "en", "s1"))
      .map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = CurationOps.q125BigramLmScore.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got === Seq(
      (1L, 3L, 1922388L, 1922388.0 / 3.0),
      (2L, 1L, 349525L, 349525.0)))
  }

  test("q135 contrast matches the hand computation on a planted two-LM corpus") {
    // target slice = lang 'en' = doc 1 only.
    // general counts — uni: a=3, b=3, c=3; bi: (a,b)=3, (b,a)=1, (b,c)=1, (c,c)=1.
    // target counts  — uni: a=2, b=2, c=0; bi: (a,b)=2, (b,a)=1.
    // doc1 (a,b)(b,a)(a,b): qg = 2^20, 349525, 2^20 -> 2446677
    //                       qt = 2^20, 524288, 2^20 -> 2621440  (kept)
    // doc2 (a,b)(b,c):      qg = 2^20 + 349525 = 1398101
    //                       qt = 2^20 + 0 (cb_t=0) = 1048576
    // doc3 (c,c):           qg = 349525; qt = 0 (cu_t(c)=0)
    val dir = fixtureCorpus(Seq(
      (1L, "a b a b", "en", "s1"),
      (2L, "a b c", "fr", "s1"),
      (3L, "c c", "fr", "s2")))
    val got = CurationOps.q135DsirContrast.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getLong(5))).toSeq
    assert(got === Seq(
      (1L, 3L, 2621440L, 2446677L, (2621440.0 - 2446677.0) / 3.0, 1L),
      (2L, 2L, 1048576L, 1398101L, (1048576.0 - 1398101.0) / 2.0, 0L),
      (3L, 1L, 0L, 349525L, -349525.0, 0L)))
  }

  test("q135 identity target: contrast is exactly 0 for every doc, none kept") {
    val docs = graft.Tables.documentsSpread(spark, sf)
    val rs = CurationOps.dsirContrast(docs, lit(true))
      .select("sum_qt", "sum_qg", "contrast", "kept").collect()
    assert(rs.nonEmpty)
    rs.foreach { r =>
      assert(r.getLong(0) === r.getLong(1), "sum_qt == sum_qg")
      assert(r.getDouble(2) === 0.0, "contrast 0")
      assert(r.getLong(3) === 0L, "strict > keeps nothing")
    }
  }

  test("q135 general side is exactly q125's LM score") {
    val q125 = CurationOps.q125BigramLmScore.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val q135 = CurationOps.q135DsirContrast.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(3))).toMap
    assert(q135 === q125)
  }

  test("q136 isqrt is the true integer square root across a sweep and at 2^45") {
    import spark.implicits._
    val big = (1L << 22) - 3 to (1L << 22) + 3
    val ns = spark.range(0, 200000).select(col("id").as("n"))
      .union(big.flatMap(v => Seq(v * v - 1, v * v, v * v + 1)).toDF("n"))
    val bad = ns.select(col("n"), CurationOps.isqrt(col("n")).as("w"))
      .filter(!(col("w") * col("w") <= col("n") &&
        (col("w") + 1) * (col("w") + 1) > col("n")))
      .count()
    assert(bad === 0L)
  }

  test("q136 weights match hand-computed isqrt on square-straddling sources") {
    import spark.implicits._
    // sources with exactly 15 / 16 / 17 tokens: isqrt = 3 / 4 / 4.
    def words(k: Int): String = Seq.fill(k)("w").mkString(" ")
    val dir = fixtureCorpus(Seq(
      (1L, words(15), "en", "s15"),
      (2L, words(16), "en", "s16"),
      (3L, words(17), "en", "s17")))
    val got = CurationOps.q136TemperatureMix.fn(spark, dir).collect()
      .map(r => (r.getString(0), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getDouble(6))).toSeq
    val totW = 11.0
    assert(got.map(t => (t._1, t._2, t._3)) ===
      Seq(("s15", 15L, 3L), ("s16", 16L, 4L), ("s17", 17L, 4L)))
    // shares and boost are single IEEE divisions of exact ints
    assert(got.map(_._4) === Seq(3.0 / totW, 4.0 / totW, 4.0 / totW))
    assert(got.head._5 === (3.0 / totW) / (15.0 / 48.0), "s15 boost")
    val shares = CurationOps.q136TemperatureMix.fn(spark, sf)
      .select("share_alpha").collect().map(_.getDouble(0))
    assert(math.abs(shares.sum - 1.0) < 1e-12, "shares partition unity")
  }

  test("q139 equals a driver-side mutual-kNN + union-find at sf0.001") {
    val emb = graft.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val cents = emb.keys.filter(id => id >= 100 && id <= 115).toSeq.sorted
    val cell = emb.keys.map { id =>
      id -> cents.map(c => (-cos(emb(id), emb(c)), c)).min._2
    }.toMap
    val knn: Map[Long, Seq[Long]] = emb.keys.map { id =>
      id -> emb.keys.toSeq
        .filter(o => o != id && cell(o) == cell(id))
        .map(o => (-cos(emb(id), emb(o)), o)).sorted.take(3).map(_._2)
    }.toMap
    val mutual = knn.toSeq.flatMap { case (a, ns) =>
      ns.collect { case b if a < b && knn(b).contains(a) => (a, b) }
    }
    // union-find -> min-label components
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    mutual.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val members = mutual.flatMap(p => Seq(p._1, p._2)).distinct
    val lbl = members.map(v => v -> find(v)).toMap
    val sizes = lbl.groupBy(_._2).map { case (l, g) => l -> g.size.toLong }
    val expected = emb.keys.toSeq.sorted.map { id =>
      val l = lbl.getOrElse(id, id)
      (id, l, if (lbl.contains(id)) sizes(l) else 1L)
    }
    val got = CurationOps.q139MutualKnnClusters.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got === expected)
    assert(mutual.nonEmpty, "fixture should produce at least one mutual edge")
  }

  test("q140 equals a driver-side quota sampler over the verified q139 membership") {
    // membership comes from the ENGINE (its own spec above pins it
    // against union-find); the sampling layer — md5-slice rank, exact
    // isqrt quota, keep-first-quota — is recomputed independently here
    val members = CurationOps.q139MutualKnnClusters.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    def md5Slice(id: Long): Long = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
      java.lang.Long.parseLong(d.take(4).map(b => f"$b%02x").mkString, 16)
    }
    def isqrt(n: Long): Long = {
      var v = math.sqrt(n.toDouble).toLong
      while ((v + 1) * (v + 1) <= n) v += 1
      while (v * v > n) v -= 1
      v
    }
    val expected = members.groupBy(_._2).toSeq.flatMap { case (_, g) =>
      val quota = isqrt(g.head._3)
      g.sortBy(t => (md5Slice(t._1), t._1)).zipWithIndex
        .take(quota.toInt)
        .map { case ((id, cl, n), i) => (id, cl, n, quota, i + 1L) }
    }.sortBy(_._1)
    val got = CurationOps.q140ClusterQuotaSample.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    // structural law: every cluster keeps EXACTLY its isqrt quota
    // (singletons keep 1 — diversity preserved, never emptied)
    val keptPerCluster = got.groupBy(_._2).map { case (c, g) => c -> g.size.toLong }
    val quotaPerCluster = members.groupBy(_._2).map { case (c, g) => c -> isqrt(g.head._3) }
    assert(keptPerCluster === quotaPerCluster.filter(_._2 > 0))
    assert(got.size < members.size, "sampling must thin a corpus with non-trivial clusters")
  }

  test("q140 quota law holds exactly on a planted clustered fixture") {
    import spark.implicits._
    // four KNOWN communities on orthogonal axes, each owning its own
    // assignment cell (centroid ids 100-103 are cluster members, the
    // cellMembers 100-115 convention): sizes 4/3/2/1 → quotas 2/1/1/1.
    // k=3 mutual-kNN keeps a cluster of size ≤ 4 COMPLETE (each member
    // ranks only the ≤3 others), so the planted sizes ARE the CC sizes
    // by construction — no reliance on testdata geometry.
    def axis(i: Int): Array[Float] = { val a = Array.fill(4)(0f); a(i) = 1f; a }
    val vecs: Seq[(Long, Array[Float])] = Seq(
      100L -> axis(0), 1L -> axis(0), 2L -> axis(0), 3L -> axis(0),
      101L -> axis(1), 5L -> axis(1), 6L -> axis(1),
      102L -> axis(2), 8L -> axis(2),
      103L -> axis(3))
    val dir = java.nio.file.Files.createTempDirectory("graft_q140_fix").toString
    vecs.toDF("vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val got = CurationOps.clusterQuotaRanked(spark, dir)
      .select(col("vec_id"), col("cluster_id"), col("n_members"),
        col("quota"), col("rk"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4)))
    // CC labels are component minima; sizes and isqrt quotas as planted
    assert(got.groupBy(_._2).map { case (c, g) => (c, g.head._3, g.head._4) }
      .toSet === Set((1L, 4L, 2L), (5L, 3L, 1L), (8L, 2L, 1L), (103L, 1L, 1L)))
    // the kept side (rk <= quota) holds EXACTLY quota members per
    // cluster — the singleton survives, the 4-cluster halves
    val kept = got.filter(t => t._5 <= t._4)
    assert(kept.groupBy(_._2).view.mapValues(_.length).toMap ===
      Map(1L -> 2, 5L -> 1, 8L -> 1, 103L -> 1))
    assert(got.length - kept.length === 5)
  }

  test("q141 equals a driver-side BigInt fixed-point calibration") {
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "was")
    val rows = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    val sfp = rows.flatMap { case (id, src, text, nChars) =>
      val toks = text.toLowerCase.split(" ", -1).filter(_.nonEmpty)
      if (toks.isEmpty) None else {
        val nStop = toks.count(stop.contains).toLong
        val nPunct = text.count(".,;:!?".contains(_)).toLong
        val nUpper = text.count(c => c >= 'A' && c <= 'Z').toLong
        val nToks = toks.length.toLong
        val num = BigInt(12) * nStop * nChars - BigInt(30) * nPunct * nToks -
          BigInt(20) * nUpper * nToks + BigInt(50) * nToks * nChars
        val den = BigInt(10) * nToks * nChars
        Some((id, src, (num * 1048576 / den).toLong))
      }
    }
    val expected = sfp.groupBy(_._2).toSeq.flatMap { case (src, g) =>
      val n = g.size.toLong
      g.sortBy(t => (-t._3, t._1)).zipWithIndex.map { case ((id, _, s), i) =>
        (id, src, s, i + 1L, i.toLong * 10 / n)
      }
    }.sortBy(_._1)
    val got = CurationOps.q141QualityCalibrate.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3),
        r.getLong(4))).toSeq
    assert(got === expected)
    assert(got.map(_._5).forall(d => d >= 0 && d <= 9), "deciles in [0,9]")
    // the +5·den offset keeps every numerator non-negative (the
    // trunc-vs-floor guarantee): score > -5 by construction
    assert(sfp.forall(_._3 >= 0L), "fixed-point score went negative")
  }

  test("q143 equals a driver-side RRF over the two verified signal frames") {
    // both signals come from their own oracle-gated queries; the
    // fusion layer — global ranks + reciprocal-rank sum — is
    // recomputed independently here, doubles compared with ==
    val sfp = CurationOps.q141QualityCalibrate.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    val lm = CurationOps.q125BigramLmScore.fn(spark, sf).collect()
      .map(r => r.getLong(0) -> r.getDouble(3)).toMap
    val rq = sfp.toSeq.sortBy(t => (-t._2, t._1)).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val rl = lm.toSeq.sortBy(t => (-t._2, t._1)).zipWithIndex
      .map { case ((id, _), i) => id -> (i + 1L) }.toMap
    val expected = sfp.keys.toSeq.sorted.map { id =>
      val rlid = rl.getOrElse(id, 0L)
      val fused = 1.0 / (60.0 + rq(id)) +
        (if (rlid == 0L) 0.0 else 1.0 / (60.0 + rlid))
      (id, sfp(id), rq(id), rlid, fused)
    }
    val got = CurationOps.q143QualityRankFusion.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4))).toSeq
    assert(got === expected)
    assert(got.forall(_._4 >= 1L),
      "every real-corpus doc here has >= 2 tokens, so all carry an LM rank")
  }

  test("q143 rank-0 convention: an LM-unscorable doc keeps the quality term only") {
    import spark.implicits._
    // the sf0.001 corpus has no single-token docs, so the partially-
    // overlapping-universe path needs a planted fixture: doc 3 has one
    // token — quality-scored, bigram-unscorable
    val dir = java.nio.file.Files.createTempDirectory("graft_q143").toString
    Seq(
      (1L, "the cat sat on the mat.", "en", "s1"),
      (2L, "a dog and a dog and a dog", "en", "s1"),
      (3L, "solo", "en", "s2"))
      .map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rs = CurationOps.q143QualityRankFusion.fn(spark, dir).collect()
      .map(r => (r.getLong(0), r.getLong(2), r.getLong(3), r.getDouble(4)))
    assert(rs.length === 3)
    val solo = rs.find(_._1 == 3L).get
    assert(solo._3 === 0L, s"unscorable doc must carry r_lm = 0: $solo")
    assert(solo._4 === 1.0 / (60.0 + solo._2), s"fused must be quality-only: $solo")
    val scored = rs.filter(_._1 != 3L)
    assert(scored.forall(_._3 >= 1L))
    scored.foreach { t =>
      assert(t._4 === 1.0 / (60.0 + t._2) + 1.0 / (60.0 + t._3), t.toString)
    }
  }

  test("q144 data card equals a driver-side recompute of every panel") {
    val stop = Set("the", "a", "of", "and", "to", "in", "is", "was")
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text"), col("n_chars"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getLong(3)))
    def toks(t: String) = t.toLowerCase.split(" ", -1).filter(_.nonEmpty)
    // corpus-wide exact-dup losers (min-doc_id survivor per text)
    val keepByText = docs.groupBy(_._3).map { case (t, g) => t -> g.map(_._1).min }
    val expected = docs.groupBy(_._2).toSeq.map { case (src, g) =>
      val nDocs = g.size.toLong
      val nTok = g.map(d => toks(d._3).length.toLong).sum
      val nChars = g.map(_._4).sum
      val vocab = g.flatMap(d => toks(d._3)).distinct.size.toLong
      val dup = g.count(d => keepByText(d._3) != d._1).toLong
      val short = g.count(d => toks(d._3).length < 16).toLong
      val scored = g.filter(d => toks(d._3).nonEmpty)
      val sumFp = scored.map { d =>
        val ts = toks(d._3)
        val nStop = ts.count(stop.contains).toLong
        val nPunct = d._3.count(".,;:!?".contains(_)).toLong
        val nUpper = d._3.count(c => c >= 'A' && c <= 'Z').toLong
        val nT = ts.length.toLong
        ((BigInt(12) * nStop * d._4 - BigInt(30) * nPunct * nT -
          BigInt(20) * nUpper * nT + BigInt(50) * nT * d._4) * 1048576 /
          (BigInt(10) * nT * d._4)).toLong
      }.sum
      (src, nDocs, nTok, nChars, vocab, dup, short, scored.size.toLong,
        sumFp.toDouble / math.max(scored.size.toLong, 1L).toDouble)
    }.sortBy(_._1)
    val got = CurationOps.q144SourceDatacard.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getDouble(8))).toSeq
    assert(got === expected)
    assert(got.map(_._2).sum === docs.length.toLong, "cards partition the corpus")
  }

  test("q126 plan: probe set broadcasts, corpus side streams map-side") {
    val df = CurationOps.q126SemanticDecontam.fn(spark, "/root/testdata/sf0.001")
    df.collect()
    // AQE's toString prints final AND initial plans — count the final only
    val plan = df.queryExecution.executedPlan.toString.split("== Initial Plan ==")(0)
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"probe join is not broadcast:\n$plan")
    // round 21: the argmax is a map-side cos_argmax projection — no
    // vec-keyed window exchange remains, only the output sort's range
    // exchange (and the 1-row probe-collection agg)
    assert(plan.split("Exchange hashpartitioning").length - 1 == 0,
      s"unexpected corpus hash exchange:\n$plan")
    assert(!plan.contains("Window"), s"argmax window survived:\n$plan")
  }
}
