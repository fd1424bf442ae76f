package graft.queries

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Behavioral contracts for the corpus-curation wave (q66-q70) — the
  * properties the DuckDB oracle can't see: partition-invariance of the
  * hash split, both-branch coverage of the incremental dedup, and the
  * plan shapes that make q66/q69 scale.
  */
class TrainingOpsSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** md5 hex of a UTF-8 string — the rewrite-fingerprint convention the
    * q123/q127 oracles hash-compare. */
  private def m(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  test("largeStarSmallStar: long-diameter path graph converges across checkpoints with bounded lineage") {
    import spark.implicits._
    // Path 1-2-3-...-15: diameter 14, the adversarial shape for a
    // diameter-bound CC; star contraction must still label every vertex
    // with the component min while checkpointing each round.
    val pairs = (1L until 15L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val labels = graft.ops.ConnectedComponents.largeStarSmallStar(pairs)
    val got = labels.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == (1L to 15L).map(i => (i, 1L)),
      "every vertex of the path must converge to the component min label 1")
    // Lineage truncation: the label frame reads the last round's
    // checkpoint (a LogicalRDD scan) — no round's join may survive
    // above it.
    val plan = labels.queryExecution.optimizedPlan.toString
    assert(plan.contains("LogicalRDD"), s"expected a checkpoint scan:\n$plan")
    val joins = "Join".r.findAllIn(plan).length
    assert(joins == 0, s"expected checkpoint-truncated lineage, found $joins joins:\n$plan")
  }

  test("q67 split assignment is a pure function of doc_id: invariant under repartitioning") {
    // The reproducibility contract: re-partitioning the input (what a
    // different cluster size does) must not move any doc between splits.
    val base = TrainingOps.q67HashSplit.fn(spark, sf).collect().toSeq
    val assign = graft.Tables.documents(spark, sf)
      .repartition(7, col("lang")) // deliberately different layout
      .withColumn("bucket",
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as int) % 10"))
      .withColumn("split",
        when(col("bucket") < 8, "train")
          .when(col("bucket") === 8, "val").otherwise("test"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"))
      .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    base.foreach { r =>
      assert(assign((r.getString(0), r.getString(1))) === r.getLong(2),
        s"split counts moved under repartitioning at ${(r.getString(0), r.getString(1))}")
    }
  }

  test("df.sample(seed) is partition-dependent — the negative that motivates q67's hash split") {
    // Same seed, different physical layout → a DIFFERENT sample. This is
    // why reproducible pipelines key membership on a content/id hash
    // (q67) instead of seeded sampling: rand(seed) is seeded PER
    // PARTITION, so cluster size or upstream layout changes the sample.
    val docs = graft.Tables.documents(spark, sf).select(col("doc_id"))
    val a = docs.sample(0.3, seed = 42).collect().map(_.getLong(0)).toSet
    val b = docs.repartition(7, col("doc_id")).sample(0.3, seed = 42)
      .collect().map(_.getLong(0)).toSet
    assert(a !== b,
      "expected seeded sample to differ across layouts; if this ever fails, " +
        "the motivation comment in q67 needs revisiting")
  }

  test("q67 covers every doc exactly once (splits partition the corpus)") {
    val total = TrainingOps.q67HashSplit.fn(spark, sf)
      .agg(sum(col("n_docs"))).collect().head.getLong(0)
    assert(total === graft.Tables.documents(spark, sf).count())
  }

  test("q68 exercises both branches and conserves the incoming batch") {
    val rs = TrainingOps.q68IncrementalDedup.fn(spark, sf).collect().toSeq
    val (inc, dup, nw) = rs.foldLeft((0L, 0L, 0L)) { case ((a, b, c), r) =>
      (a + r.getLong(1), b + r.getLong(2), c + r.getLong(3))
    }
    assert(inc === dup + nw, "n_incoming must equal n_dup + n_new per language")
    assert(dup > 0, "duplicate branch never fired — fingerprint too fine for this corpus")
    assert(nw > 0, "new-content branch never fired")
  }

  test("q66 broadcasts the vocabulary-sized df side, never the corpus") {
    val plan = TrainingOps.q66Tfidf.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q66 scores agree with a direct per-doc recomputation") {
    // Independent in-process recomputation (collect + Scala Map), no SQL.
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), lower(col("text")).as("t")).collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ").filter(_.nonEmpty).toSeq).toMap
    val n = docs.size
    val dfMap = docs.values.flatMap(_.distinct).groupBy(identity).view.mapValues(_.size).toMap
    val got = TrainingOps.q66Tfidf.fn(spark, sf).collect()
    assert(got.nonEmpty)
    got.foreach { r =>
      val (id, term, tf, df, score) =
        (r.getLong(0), r.getString(2), r.getLong(3), r.getLong(4), r.getDouble(5))
      assert(docs(id).count(_ == term) === tf, s"tf mismatch doc $id term $term")
      assert(dfMap(term).toLong === df, s"df mismatch term $term")
      assert(score === tf.toDouble * n / df, s"score mismatch doc $id term $term")
    }
  }

  test("q69 bigram counts: adjacent pairs only, totals consistent") {
    val out = TrainingOps.q69BigramLift.fn(spark, sf).collect()
    assert(out.nonEmpty)
    val docs = graft.Tables.documents(spark, sf)
      .select(lower(col("text"))).collect()
      .map(_.getString(0).split(" ").filter(_.nonEmpty).toSeq)
    val biCounts = docs.flatMap(ts => ts.zip(ts.drop(1)))
      .groupBy(identity).view.mapValues(_.size).toMap
    out.foreach { r =>
      assert(biCounts((r.getString(0), r.getString(1))).toLong === r.getLong(2),
        s"bigram count mismatch for (${r.getString(0)}, ${r.getString(1)})")
    }
    // lift ordering is what the query promises
    val lifts = out.map(_.getDouble(5)).toSeq
    assert(lifts === lifts.sorted(Ordering[Double].reverse))
  }

  test("q71 CMS never underestimates, and the matrix is partition-independent") {
    val out = TrainingOps.q71CmsHeavyHitters.fn(spark, sf).collect()
    assert(out.length === 10)
    out.foreach { r =>
      assert(r.getLong(3) >= 0L,
        s"CMS underestimated '${r.getString(0)}': ${r.getLong(2)} < ${r.getLong(1)}")
      assert(r.getLong(2) - r.getLong(1) === r.getLong(3))
    }
    // order-independence: the counter matrix is a commutative monoid, so
    // a re-run (different task scheduling/partition order) is identical
    val again = TrainingOps.q71CmsHeavyHitters.fn(spark, sf).collect()
    assert(out.map(_.toSeq).toSeq === again.map(_.toSeq).toSeq)
  }

  test("q72 clusters are consistent with the q32 pair graph") {
    val pairs = LlmOps.q32NearDupPairs.fn(spark, sf)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    val clusters = TrainingOps.q72DupClusters.fn(spark, sf).collect()
    val memberOf = clusters.flatMap { r =>
      r.getString(2).split('|').map(_.toLong -> r.getLong(0))
    }.toMap
    // every edge's endpoints land in the same cluster (transitivity held)
    pairs.foreach { case (a, b) =>
      assert(memberOf(a) === memberOf(b), s"pair ($a,$b) split across clusters")
    }
    // representative is the min member; sizes match the member lists
    clusters.foreach { r =>
      val ms = r.getString(2).split('|').map(_.toLong)
      assert(ms.min === r.getLong(0))
      assert(ms.length.toLong === r.getLong(1))
    }
    // clusters partition the node set exactly
    assert(memberOf.keySet === pairs.flatMap(p => Seq(p._1, p._2)).toSet)
  }

  test("q73 repetition metrics are in range and both keep branches fire") {
    val out = TrainingOps.q73RepetitionFilter.fn(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      Seq(2, 3, 4).foreach { i =>
        val f = r.getDouble(i)
        assert(f >= 0.0 && f <= 1.0, s"fraction out of range at col $i: $f")
      }
      assert(r.getDouble(2) >= 1.0 / r.getInt(1),
        "top token fraction must be at least 1/n")
    }
    assert(out.exists(_.getBoolean(5)), "no doc kept")
    assert(out.exists(!_.getBoolean(5)), "no doc rejected — thresholds never fire")
  }

  test("q77 broadcasts the probe-shingle side, never the corpus") {
    val plan = TrainingOps.q77Decontaminate.fn(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("CartesianProduct"), plan)
  }

  test("q100 chunks cover every token position with the pinned overlap") {
    // independent ground truth: per-doc token count recomputed directly
    val nByDoc = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id"),
        expr("size(filter(split(lower(text), ' '), t -> t <> ''))").as("n"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val out = TrainingOps.q100ChunkWindows.fn(spark, sf)
      .collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .groupBy(_._1)
    assert(out.nonEmpty)
    // every non-empty doc chunks; empty docs (if any) are absent
    assert(out.keySet == nByDoc.filter(_._2 > 0).keySet)
    out.foreach { case (doc, chunks) =>
      val n = nByDoc(doc)
      val sorted = chunks.sortBy(_._2)
      // starts are exactly the full stride grid 0, 48, ... <= n-1
      assert(sorted.map(_._2).toSeq == (0 until n by 48),
        s"doc $doc: starts off the stride grid")
      // every chunk is the window clipped to the doc end — with
      // window > stride the last TWO chunks can both be short (e.g.
      // n=100 -> 64, 52, 4); min(window, n-start) is the whole law.
      // Together with the grid check this is exact coverage of
      // [0, n) with no padding: each chunk reaches at least the next
      // start (min(64, n-s) >= 49 whenever a next start exists).
      sorted.foreach { case (_, start, len) =>
        assert(len == math.min(64, n - start),
          s"doc $doc: chunk at $start has $len toks, want min(64, ${n - start})")
      }
      // consecutive FULL chunks overlap by exactly window - stride = 16
      sorted.toSeq.sliding(2).foreach {
        case Seq((_, s0, 64), (_, s1, _)) =>
          assert(s0 + 64 - s1 == 16, s"doc $doc: overlap != 16")
        case _ => ()
      }
    }
  }

  test("q70 redaction removes exactly the injected spans (char accounting)") {
    val rs = TrainingOps.q70PiiRedact.fn(spark, sf).collect()
    rs.foreach { r =>
      val (emails, phones, raw, clean) =
        (r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
      // every injected email span shrinks by (len - len('<EMAIL>')) which
      // varies with doc_id width; phones are fixed 8 chars -> '<PHONE>' (7).
      assert(clean < raw, s"no chars redacted for lang ${r.getString(0)}")
      assert(emails + phones > 0, s"no PII detected for lang ${r.getString(0)}")
      assert(raw - clean >= emails + phones * 1L,
        "redaction must strictly shrink each matched span")
    }
  }

  test("q110 MERGE semantics: clause precedence, tombstone removal, insert offset") {
    val rows = TrainingOps.q110SnapshotMerge.fn(spark, sf)
      .collect().map(r => r.getLong(0) -> ((r.getLong(2), r.getString(3)))).toMap
    val baseIds = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("n_chars").cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    baseIds.foreach { case (id, nc) =>
      if (id % 3 == 0)            // update wins even when also tombstoned
        assert(rows(id) === ((nc + 7, "updated")), s"doc $id")
      else if (id % 5 == 1)       // pure tombstone: gone from the snapshot
        assert(!rows.contains(id), s"doc $id should be deleted")
      else
        assert(rows(id) === ((nc, "kept")), s"doc $id")
      if (id % 97 == 0)           // insert stream arrives at the offset key
        assert(rows(id + 1000000L) === ((nc, "inserted")), s"insert for $id")
    }
    // the snapshot is exactly base - tombstones + inserts, no leaks
    val expectedSize = baseIds.count { case (id, _) => id % 3 == 0 || id % 5 != 1 } +
      baseIds.keys.count(_ % 97 == 0)
    assert(rows.size === expectedSize)
  }

  test("q112 leakage guard: every near-dup pair lands in the same split") {
    // labels from driver-side union-find on the q32 pairs (independent
    // of the CC under test); recompute each doc's split with q112's
    // rule, assert no pair straddles splits — the property the query
    // exists to enforce — and that q112's per-(split, source) doc
    // counts are exactly that assignment's.
    val pairs = graft.queries.LlmOps.q32NearDupPairs.fn(spark, sf)
      .select(col("id_a"), col("id_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val labels = graft.UnionFind.labels(pairs)
    def split(id: Long): String = {
      val rep = labels.getOrElse(id, id)
      val md5 = java.security.MessageDigest.getInstance("MD5")
        .digest(rep.toString.getBytes("UTF-8"))
        .take(2).map("%02x".format(_)).mkString
      val bucket = Integer.parseInt(md5, 16) % 10
      if (bucket < 8) "train" else if (bucket == 8) "val" else "test"
    }
    pairs.foreach { case (a, b) =>
      assert(split(a) === split(b), s"near-dup pair ($a, $b) straddles splits")
    }
    assert(pairs.nonEmpty)
    val expected = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("source")).collect()
      .groupBy(r => (split(r.getLong(0)), r.getString(1)))
      .map { case (k, rs) => k -> rs.length.toLong }
    val got = TrainingOps.q112ClusterSafeSplit.fn(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(got === expected)
  }

  test("q115 counts every position of a planted cross-doc span; within-doc repeats stay unique") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q115").toString
    // k=6. docs 1/2 share exactly ONE 6-gram ("p q r s t u": doc1
    // position 1, doc2 position 2); doc 3 repeats its own 6-gram three
    // times but shares nothing cross-doc (q73's axis, not q115's);
    // docs 4/5 are verbatim copies of each other (every position
    // duplicated -> trim); doc 6 is below the gram length and must be
    // excluded on both engines.
    Seq(
      (1L, "p q r s t u v w", "en", "s1"),
      (2L, "z p q r s t u y", "en", "s1"),
      (3L, "a b c d e f a b c d e f a b c d e f", "en", "s2"),
      (4L, "m n o h i j k l", "en", "s2"),
      (5L, "m n o h i j k l", "en", "s2"),
      (6L, "x1 x2 x3 x4 x5", "en", "s2"))
      .map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rs = TrainingOps.q115SubstringDup.fn(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getBoolean(4)))
    assert(rs === Seq(
      (1L, 3, 1, false),
      (2L, 3, 1, false),
      (3L, 13, 0, false),
      (4L, 3, 3, true),
      (5L, 3, 3, true)))
  }

  test("q116 localizes the longest duplicated run exactly; equal runs break leftmost") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q116").toString
    // docs 1/2 share the 10-token span "a..j": 5 consecutive duplicated
    // 6-gram positions starting at 1 (doc 1) and 4 (doc 2); docs 3/4
    // share TWO disjoint 6-token spans (run length 1 each) — the tie
    // must resolve to the LEFTMOST start on both sides.
    Seq(
      (1L, "a b c d e f g h i j k l", "en", "s1"),
      (2L, "z z z a b c d e f g h i j q r s", "en", "s1"),
      (3L, "p1 p2 p3 p4 p5 p6 x1 x2 x3 q1 q2 q3 q4 q5 q6", "en", "s2"),
      (4L, "p1 p2 p3 p4 p5 p6 y1 y2 q1 q2 q3 q4 q5 q6", "en", "s2"))
      .map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rs = TrainingOps.q116DupSpanLocalize.fn(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3)))
    assert(rs === Seq(
      (1L, 5, 1, 10),
      (2L, 5, 4, 10),
      (3L, 1, 1, 6),
      (4L, 1, 1, 6)))
  }

  test("q127 cuts exactly the localized span; uncut and short docs pass through whole") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q127").toString
    // docs 1/2 share the 10-token span "a..j" (q116's fixture): doc 1's
    // span starts at token 1, doc 2's at token 4; doc 3 shares nothing
    // (uncut); doc 4 is below the gram length (uncut by construction).
    Seq(
      (1L, "a b c d e f g h i j k l", "en", "s1"),
      (2L, "z z z a b c d e f g h i j q r s", "en", "s1"),
      (3L, "m1 m2 m3 m4 m5 m6 m7", "en", "s2"),
      (4L, "x1 x2 x3", "en", "s2"))
      .map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rs = TrainingOps.q127SpanCutRewrite.fn(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    // hand-trimmed expectations: doc 1 loses tokens 1-10 of 12, doc 2
    // loses tokens 4-13 of 16, docs 3/4 keep their full text
    assert(rs === Seq(
      (1L, 12, 1, 10, m("k l")),
      (2L, 16, 4, 10, m("z z z q r s")),
      (3L, 7, 0, 0, m("m1 m2 m3 m4 m5 m6 m7")),
      (4L, 3, 0, 0, m("x1 x2 x3"))))
  }

  test("q127 rewrites NULL/empty/whitespace text to the empty document, not NULL") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q127n").toString
    // degenerate fixtures the natural corpus never supplies: NULL text,
    // the empty string, and whitespace-only text must all coalesce to a
    // ZERO-token document (n_toks = 0, cut 0/0, kept_md5 = md5('')) —
    // the oracle COALESCEs its token list to [] and its joined string to
    // '', so a NULL-propagating Spark plan (size = -1, md5 = NULL) is a
    // latent hash-gate flipper. Docs 4/5 pin that real text still flows.
    Seq(
      (1L, null.asInstanceOf[String], "en", "s1"),
      (2L, "", "en", "s1"),
      (3L, "   ", "en", "s1"),
      (4L, "a b c d e f g h i j k l", "en", "s2"),
      (5L, "z z z a b c d e f g h i j q r s", "en", "s2"))
      .map { case (id, text, lang, src) =>
        (id, text, lang, src, Option(text).map(_.length.toLong).getOrElse(0L))
      }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rs = TrainingOps.q127SpanCutRewrite.fn(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
        r.getString(4)))
    assert(rs === Seq(
      (1L, 0, 0, 0, m("")),
      (2L, 0, 0, 0, m("")),
      (3L, 0, 0, 0, m("")),
      (4L, 12, 1, 10, m("k l")),
      (5L, 16, 4, 10, m("z z z q r s"))))
  }

  test("q127 equals a brute-force span-cut reference on generated small-vocab corpora") {
    import spark.implicits._
    // tiny vocabulary + short docs → dense cross-doc 6-gram collisions,
    // the regime where run assembly, tie-breaks, and cut arithmetic all
    // get exercised far harder than the natural corpus exercises them
    val rnd = new scala.util.Random(0xC0FFEE)
    val vocab = Vector("a", "b", "c", "d", "e")
    for (trial <- 1 to 3) {
      val docs = (0L until 12L).map { id =>
        val n = 8 + rnd.nextInt(13)
        id -> Vector.fill(n)(vocab(rnd.nextInt(vocab.size)))
      }
      val dir = java.nio.file.Files.createTempDirectory(s"graft_q127p$trial").toString
      docs.map { case (id, ts) =>
        (id, ts.mkString(" "), "en", "s1", ts.mkString(" ").length.toLong)
      }.toDF("doc_id", "text", "lang", "source", "n_chars")
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      // brute-force reference: duplicated position = 6-gram occurring in
      // ANY other doc; longest-then-leftmost run; span = run + k - 1 cut
      val k = 6
      def gramsOf(ts: Vector[String]): Vector[String] =
        if (ts.length < k) Vector.empty
        else (0 to ts.length - k).map(i => ts.slice(i, i + k).mkString(" ")).toVector
      val gramDocs = docs.flatMap { case (id, ts) => gramsOf(ts).distinct.map(_ -> id) }
        .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
      val expected = docs.map { case (id, ts) =>
        val dupPos = gramsOf(ts).zipWithIndex.collect {
          case (g, i) if (gramDocs(g) - id).nonEmpty => i + 1
        }
        // longest contiguous run, leftmost on ties
        var best: Option[(Int, Int)] = None // (len, start)
        var runStart = -1; var prev = -100
        def close(end: Int): Unit = if (runStart > 0) {
          val len = end - runStart + 1
          if (best.forall { case (bl, bs) => len > bl }) best = Some((len, runStart))
        }
        dupPos.foreach { p =>
          if (p != prev + 1) { close(prev); runStart = p }
          prev = p
        }
        close(prev)
        best match {
          case Some((len, start)) =>
            val span = len + k - 1
            val kept = ts.take(start - 1) ++ ts.drop(start - 1 + span)
            (id, ts.length, start, span, m(kept.mkString(" ")))
          case None => (id, ts.length, 0, 0, m(ts.mkString(" ")))
        }
      }
      val got = TrainingOps.q127SpanCutRewrite.fn(spark, dir).collect().toSeq
        .map(r => (r.getLong(0), r.getInt(1), r.getInt(2), r.getInt(3),
          r.getString(4)))
      assert(got === expected, s"trial $trial diverged from the brute-force cut")
    }
  }

  test("q115 hash-keyed grouping matches string-keyed grouping (collision audit)") {
    import org.apache.spark.sql.functions._
    // q115 groups by xxhash64(gram) for 8-byte shuffle keys; the DuckDB
    // oracle groups by the gram STRING. This recomputes the string-keyed
    // form IN SPARK at sf0.01 (50x the fixture corpus) and demands
    // equality — a 64-bit collision, or any divergence between the
    // kernel's gram text and the hash path, would split or merge keys
    // and move these counts.
    val dir = "/root/testdata/sf0.01"
    val byString = graft.Tables.documentsSpread(spark, dir)
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), t -> t <> '')").as("ts"))
      .filter(size(col("ts")) >= 6)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.ngrams(col("ts"), 6)).as("g"))
      .groupBy(col("g"), col("doc_id")).agg(count(lit(1)).as("pos"))
      .localCheckpoint()
    val dupKeys = byString.groupBy(col("g"))
      .agg(count(lit(1)).as("nd")).filter(col("nd") >= 2).select("g")
    val expected = byString.join(dupKeys, "g")
      .groupBy(col("doc_id")).agg(sum(col("pos")).cast("int").as("dup"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val got = TrainingOps.q115SubstringDup.fn(spark, dir)
      .select(col("doc_id"), col("dup_grams"))
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(got.filter(_._2 > 0) === expected,
      "hashed grouping must agree with string grouping on every doc")
  }

  test("q115 shuffles 8-byte hashed gram keys, never gram text") {
    val df = TrainingOps.q115SubstringDup.fn(spark, sf)
    df.collect() // materialize so the executed plan (incl. AQE) is final
    val plan = df.queryExecution.executedPlan.toString
    // (the gram DERIVATION — explode + xxhash64 — lives behind the
    // eager localCheckpoint and is not part of this executed plan; what
    // must hold downstream is that every gram-keyed exchange moves the
    // 8-byte hash column, and nothing reassembles gram text)
    assert(plan.contains("hashpartitioning(gh#"),
      "the gram-keyed exchanges must partition on the hashed key column")
    val gramFieldInExchange = "Exchange[^\\n]*concat_ws".r.findFirstIn(plan)
    assert(gramFieldInExchange.isEmpty,
      s"an exchange carries gram text: $gramFieldInExchange")
    assert(!plan.contains("concat_ws"),
      "no stage above the checkpoint may reassemble gram strings")
  }

  test("q123 keeps exactly the first instance of a repeated block and reassembles the rest") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_q123").toString
    // 16-token blocks. doc 1 = blocks A B; doc 2 = blocks B C (B is a
    // verbatim repeat of doc 1's SECOND block -> dropped from doc 2,
    // kept in doc 1); doc 3 repeats block A at BOTH its positions ->
    // first instance globally is doc 1's, so doc 3 keeps nothing; doc 4
    // leads with block C whose first instance is doc 2's bi=1 (keep-
    // first is (doc,idx)-global, not per-position) and ends with a
    // unique 5-token tail block -> only the tail survives.
    val A = (1 to 16).map(i => s"a$i").mkString(" ")
    val B = (1 to 16).map(i => s"b$i").mkString(" ")
    val C = (1 to 16).map(i => s"c$i").mkString(" ")
    val tail5 = (1 to 5).map(i => s"t$i").mkString(" ")
    Seq(
      (1L, s"$A $B", "en", "s1"),
      (2L, s"$B $C", "en", "s1"),
      (3L, s"$A $A", "en", "s2"),
      (4L, s"$C $tail5", "en", "s2"))
      .map { case (id, text, lang, src) => (id, text, lang, src, text.length.toLong) }
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rs = TrainingOps.q123BlockDedupRewrite.fn(spark, dir).collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    assert(rs === Seq(
      (1L, 2L, 0L, m(s"$A $B")),
      (2L, 2L, 1L, m(C)),
      (3L, 2L, 2L, m("")),
      (4L, 2L, 1L, m(tail5))))
  }

  test("q142 equals a driver-side bucketed batcher; band law bounds padding") {
    val docs = graft.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text")).collect()
      .map(r => (r.getLong(0),
        r.getString(1).toLowerCase.split(" ", -1).count(_.nonEmpty).toLong))
      .filter(_._2 >= 1)
    val expected = docs
      .map { case (id, n) => (id, n, java.lang.Long.toBinaryString(n).length.toLong) }
      .groupBy(_._3).toSeq.flatMap { case (band, g) =>
        g.sortBy(t => (t._2, t._1)).zipWithIndex
          .map { case ((_, n, _), i) => (band, i / 16L, n) }
      }
      .groupBy(t => (t._1, t._2)).toSeq.map { case ((band, batch), g) =>
        val ns = g.map(_._3)
        (band, batch, ns.size.toLong, ns.min, ns.max, ns.sum,
          ns.size * ns.max - ns.sum)
      }.sortBy(t => (t._1, t._2))
    val got = TrainingOps.q142LengthBatches.fn(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6))).toSeq
    assert(got === expected)
    // bucketed-batching guarantee: same bit length => max < 2*min, so
    // per-batch padding waste is under 50% on any corpus
    got.foreach { b =>
      assert(b._5 < 2 * b._4, s"band law violated in batch $b")
      assert(b._7 < b._6, s"padding exceeded payload in batch $b")
    }
    // coverage: every non-empty doc lands in exactly one batch slot
    assert(got.map(_._3).sum === docs.length.toLong)
  }
}
