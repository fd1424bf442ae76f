package graft.curation

import graft.{Tables => T}
import graft.ops.Stored
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The end-to-end corpus-curation pipeline — the registry's curation
  * operators composed into the single job a training-data team actually
  * runs, in the canonical order (each stage's rationale lives on the
  * corresponding oracle query):
  *
  *   1. quality gate        — a POLICY-parameterized rule: absolute
  *                            floor 0.05 on q83's scorer (default),
  *                            q141's per-source decile cut, or the
  *                            q145/q146 TRAINED classifier's global
  *                            decile cut (see [[QualityPolicy]])
  *   2. LM typicality gate  — q125's bigram-LM kernel, keep score >= lmFloor
  *   3. exact dedup         — q29's md5(text) groups, min-doc_id survivor
  *   4. near-dup prune      — the shared near-dup pair graph (q33's
  *                            LSH generation ≡ q32's exact pairs) +
  *                            q89's lose-to-higher-score rule
  *  4b. multimodal dedup    — the near-dup pair graphs (q128 image,
  *                            q131 video, q132 audio) plus the exact
  *                            fingerprint groups (q129 audio, q130
  *                            video), all via the factored fingerprint
  *                            seams, min-doc survivor
  *   5. decontamination     — q77's 5-gram overlap vs the eval probe set
  *  5b. semantic decontam   — q126's kernel: drop docs whose embedding
  *                            sits within `semThr` cosine of any eval
  *                            probe — the paraphrased-leakage class the
  *                            lexical 5-gram pass cannot see
  *   6. block rewrite       — q123's corpus-wide keep-first block dedup;
  *                            downstream stages see the REWRITTEN text
  *  6b. diversity thinning  — a POLICY-parameterized cluster-quota
  *                            sampler: identity (default) or q140's
  *                            mutual-kNN √-quota rule (see
  *                            [[SamplingPolicy]])
  *   7. mixture rebalance   — a POLICY-parameterized rate rule applied
  *                            via q93's hash filter: q84's equalizing
  *                            rates (default) or q136's temperature
  *                            mixture (see [[MixturePolicy]])
  *   8. chunking            — q100's fixed-context stride grid
  *   9. shard packing       — q101's chunk→shard composition over
  *                            ops.ShardPacking's two-pass prefix sum
  *  10. parquet shards      — partitioned by (source, shard_id)
  *
  * Stage order matters and is the industry-standard one: dedup before
  * decontamination (fewer docs to shingle), every filter before
  * mixture rebalancing (rates must reflect the CLEAN corpus or the
  * mixture under-delivers), chunking after every document-level
  * filter (a dropped doc's chunks must never exist), packing last
  * (shards are immutable artifacts). Shards hold CHUNKS, not ragged
  * documents: every training example is at most `chunkWindow` tokens,
  * so shard fill is tight — a 100k-token doc can no longer overshoot
  * a shard budget by its own length. Every stage is a pure function
  * of the input corpus —
  * no rand(), no timestamps — so the pipeline is bit-reproducible:
  * re-running on the same input yields byte-identical shard
  * assignments (CurateSpec pins this).
  *
  * Scale notes: stages communicate by doc_id (joins on the key, never
  * row position); the corpus-sized shuffles are the ones the underlying
  * queries document (gram explode for decontamination, md5-keyed dedup)
  * plus a doc_id shuffle of the stored frame that stages 4b, 5 and 6
  * join on; the eval probe set, rate table, and pair list are
  * broadcast-sized. The write partitions by (source, shard_id), so
  * downstream training readers prune to their shard without listing
  * the corpus.
  */
object Curate {

  import graft.Qdsl.toksSql

  /** Stage 7's rate rule — the mixture-policy family the registry
    * already proves query-by-query, exposed as a pipeline parameter
    * the way stage 5 composes q133 and stage 4 composes q33. Every
    * policy resolves to a per-source hash-bucket cut in [0, 65536]
    * consumed by q93's reproducible filter, so the stage's plan shape
    * (one sources-sized rate frame broadcast into one corpus filter)
    * is policy-invariant.
    *
    * q103's epoch UPSAMPLING is deliberately not in this family: a
    * rate rule can only keep or drop (cut ≤ 65536), while epochs
    * REPLICATE docs — replication would break stage 8's ord-key
    * uniqueness contract (ord = doc_id·2^20 + chunk_start assumes one
    * instance per doc); a deployment wanting epochs widens the ord
    * encoding with an epoch field instead of bending the rate seam.
    */
  /** Stage 1's quality gate rule — like [[MixturePolicy]], a family
    * the registry proves query-by-query, exposed as a parameter.
    * Either member consumes the SAME q83 score frame the near-dup
    * survivor rule reads (one scoring pass per run).
    */
  sealed trait QualityPolicy
  object QualityPolicy {
    /** The default, unchanged behavior: keep score ≥ 0.05 — an
      * absolute floor in q83's linear-score units. */
    case object AbsoluteFloor extends QualityPolicy
    /** q141's per-source calibration: keep each source's top `keep`
      * deciles (0-9 scale; keep=8 drops every source's worst 20%).
      * The cut is domain-fair by construction — an absolute floor
      * silently empties sources that score systematically low (the
      * sf1-replica failure Curate's LM gate already works around);
      * deciles are computed on the post-eval-carveout corpus so held
      * -out docs never shift the quantile. */
    final case class SourceDeciles(keep: Int = 8) extends QualityPolicy
    /** q145/q146's TRAINED classifier as the gate: train the
      * fixed-point GD model on the post-carveout corpus (eval docs
      * never move the learned boundary — the SourceDeciles argument),
      * score every doc through the factored gdScores seam, keep the
      * top `keep` global deciles by learned score. A quantile cut,
      * not the absolute p ≥ Q/2 boundary — the DCLM/CCNet move, and
      * on this corpus the absolute boundary is degenerate (q146's
      * scaladoc has the account). Decile machinery is q141's:
      * BlockRanks global rank (range-split, no single-task window),
      * decile = (rk−1)·10 div n, all int64. */
    final case class TrainedDeciles(keep: Int = 8) extends QualityPolicy
  }

  /** Stage 6b's diversity-sampling rule — the third policy family
    * (after [[QualityPolicy]] and [[MixturePolicy]]), wiring q140's
    * oracle-proven cluster-quota sampler into the pipeline. */
  sealed trait SamplingPolicy
  object SamplingPolicy {
    /** The default, unchanged behavior: no cluster thinning — stage
      * 7's per-source hash-rate mixture is the pipeline's only
      * subsample. The default path adds ZERO actions and ZERO scans
      * (the stage is the identity). */
    case object HashRate extends SamplingPolicy
    /** q140's kernel (the SemDeDup/cluster-balancing shape): thin each
      * mutual-kNN embedding community to quota = isqrt(n_members) —
      * dense regions of embedding space are flattened, singletons
      * always survive, members chosen by the reproducible md5-slice
      * rank. The selection is computed CORPUS-WIDE through the
      * [[graft.queries.CurationOps.clusterQuotaRanked]] seam (exactly
      * the frame q140's oracle proves — the stage-4 convention: a
      * verdict derived from the full corpus applies to whatever
      * survivors remain) and docs without an embedding pass through,
      * the 5b rule. Uses the testdata vec_id == doc_id seam, like 5b. */
    case object ClusterQuota extends SamplingPolicy
  }

  sealed trait MixturePolicy
  object MixturePolicy {
    /** q84's equalizing rates (the default, unchanged behavior):
      * every source subsampled to the smallest source's clean token
      * count — cut_s = floor(min_tok/n_s · 65536). */
    case object Equalize extends MixturePolicy
    /** q136's temperature mixture at α = 1/2: expected kept tokens
      * ∝ isqrt(n_s), the one temperature exact in integers; the
      * smallest source keeps rate 1 (cut = 65536) and every other
      * source keeps cut_s = (65536·w_s·n_min) div (n_s·w_min) with
      * w = isqrt(n) — a pure integer rational evaluated in
      * decimal(38,0) (numerator ≤ 2^94 at a 2^52-token source, far
      * past 100 TB; int64 would overflow at ~2^31 min-source
      * tokens), clamped to 65536 (the rational exceeds it only when
      * the min source has single-digit tokens — isqrt floor error —
      * and any cut ≥ 65536 means keep-everything). Kept-token
      * expectation is then ∝ √n_s exactly for unclamped sources — the
      * q136 share realized by subsampling alone. */
    case object Temperature extends MixturePolicy
  }

  final case class Report(
      nInput: Long, nQuality: Long, nLmPass: Long, nExactDedup: Long,
      nNearDedup: Long, nMediaDedup: Long, nDecontaminated: Long, nSemClean: Long,
      nRewritten: Long, nThinned: Long, nSampled: Long, nChunks: Long,
      nShards: Long, nTokens: Long)

  /** The policy → per-source hash-bucket cut rule, factored so the
    * spec can pin exact cut values on a hand-built token frame.
    * `per` is (source, n_tokens); returns (source, cut) with
    * cut ∈ [0, 65536] consumed by q93's `bucket < cut` filter.
    */
  private[graft] def mixtureCuts(per: DataFrame,
      mixture: MixturePolicy): DataFrame = {
    val mn = per.agg(min(col("n_tokens")).as("min_tok"))
    mixture match {
      case MixturePolicy.Equalize =>
        per.crossJoin(mn)
          .select(col("source"),
            floor((col("min_tok").cast("double") / col("n_tokens")) * 65536)
              .cast("long").as("cut"))
      case MixturePolicy.Temperature =>
        // cut_s = (65536·w_s·n_min) div (n_s·w_min), w = isqrt(n):
        // exact integer rational in decimal(38,0); isqrt is monotone,
        // so isqrt(min n) IS the minimizing source's weight. The
        // rational can exceed 65536 when the min source's token count
        // is single-digit (isqrt floor error, e.g. n={3,4} gives
        // cut_4 = 98304) — clamp to keep the documented cut ∈
        // [0, 65536] invariant; `bucket < cut` semantics are unchanged
        // (both mean keep-everything).
        per.crossJoin(mn)
          .withColumn("__num",
            lit(65536L).cast("decimal(38,0)")
              * graft.queries.CurationOps.isqrt(col("n_tokens")).cast("decimal(38,0)")
              * col("min_tok").cast("decimal(38,0)"))
          .withColumn("__den",
            col("n_tokens").cast("decimal(38,0)")
              * graft.queries.CurationOps.isqrt(col("min_tok")).cast("decimal(38,0)"))
          .select(col("source"),
            least(expr("__num div __den"), lit(65536L)).as("cut"))
    }
  }

  /** Run the full pipeline; write shards under `outDir`; return the
    * per-stage funnel. Docs with `doc_id < evalIdBelow` are the held-out
    * eval docs: the decontamination probe set, never in the corpus.
    *
    * Each stage's frame is stored once (left lazy, every later action
    * would re-run the chain from the scan: O(stages²) corpus passes).
    * Every stage, the input included, is one [[graft.ops.Stored]]
    * checkpoint whose own job observes its funnel count: the count
    * costs no job, the next stage plans from a LogicalRDD instead of
    * nesting every earlier stage's plan, and a stage that ends
    * hash-partitioned on doc_id (the input, the quality gate) is joined
    * on doc_id without a second shuffle. Once a stage is stored, the
    * stage before it and every checkpoint made while building it
    * (pairs, bands, probe, bitmap, the kernels' own) are released, and
    * the run releases all it stored before it returns, also when it
    * throws. The ledger is the context's persistent-RDD set: no other
    * thread may store on the same context meanwhile.
    */
  def run(spark: SparkSession, sfDir: String, outDir: String,
      tokenBudget: Long = 4096L, evalIdBelow: Long = 10L,
      chunkWindow: Int = 64, chunkStride: Int = 48,
      lmTailFrac: Double = 0.02, semThr: Double = 0.30,
      mixture: MixturePolicy = MixturePolicy.Equalize,
      qualityPolicy: QualityPolicy = QualityPolicy.AbsoluteFloor,
      samplingPolicy: SamplingPolicy = SamplingPolicy.HashRate,
      verbose: Boolean = false): Report = {
    qualityPolicy match {
      case QualityPolicy.SourceDeciles(k) =>
        require(k >= 1 && k <= 10, s"SourceDeciles.keep must be 1..10, got $k")
      case QualityPolicy.TrainedDeciles(k) =>
        require(k >= 1 && k <= 10, s"TrainedDeciles.keep must be 1..10, got $k")
      case QualityPolicy.AbsoluteFloor => ()
    }
    require(chunkWindow > 0 && chunkStride > 0 && chunkStride <= chunkWindow,
      "need 0 < chunkStride <= chunkWindow (stride > window would skip tokens)")
    require(chunkWindow <= tokenBudget,
      "a single chunk must fit a shard: chunkWindow <= tokenBudget")
    val held = new Held(spark.sparkContext)
    try pipeline(spark, sfDir, outDir, tokenBudget, evalIdBelow, chunkWindow,
      chunkStride, lmTailFrac, semThr, mixture, qualityPolicy, samplingPolicy,
      verbose, held)
    finally held.release(held.ids)
  }

  /** The RDDs persisted or checkpointed since construction. */
  private final class Held(sc: org.apache.spark.SparkContext) {
    private val before = sc.getPersistentRDDs.keySet.toSet
    def ids: Set[Int] = sc.getPersistentRDDs.keySet.toSet -- before
    def release(rdds: Set[Int]): Unit =
      rdds.flatMap(sc.getPersistentRDDs.get).foreach(_.unpersist(blocking = true))
  }

  private def pipeline(spark: SparkSession, sfDir: String, outDir: String,
      tokenBudget: Long, evalIdBelow: Long, chunkWindow: Int, chunkStride: Int,
      lmTailFrac: Double, semThr: Double, mixture: MixturePolicy,
      qualityPolicy: QualityPolicy, samplingPolicy: SamplingPolicy,
      verbose: Boolean, held: Held): Report = {
    // per-stage wall laps, printed only when the caller asks (Profile's
    // `curate` target does) — a library API stays quiet by default
    var __t = System.nanoTime()
    def lap(l: String): Unit = {
      if (verbose) println(f"[curate-stage] $l ${(System.nanoTime() - __t) / 1e9}%.1f s")
      __t = System.nanoTime()
    }
    // runs `body` with its jobs described as stage `name`'s
    def described[A](name: String)(body: => A): A = {
      val sc = spark.sparkContext
      val prev = sc.getLocalProperty("spark.job.description")
      sc.setJobDescription(s"curate $name")
      try body finally sc.setJobDescription(prev)
    }
    // stores stage `name`, then releases everything the run held before
    // (the previous stage and the scratch this one was built on)
    def store(name: String, df: DataFrame, extra: Column*): Stored = {
      val built = held.ids
      val s = described(name)(Stored.checkpoint(df, extra: _*))
      held.release(built)
      lap(name)
      s
    }

    val docs = store("input", T.documentsSpread(spark, sfDir)
      .filter(col("doc_id") >= evalIdBelow))

    // 1. quality gate — the policy-selected rule over ONE q83 score
    // frame (the same frame stage 4's survivor rule reads)
    val scored = graft.queries.CurationOps.qualityScored(spark, sfDir)
      .filter(col("doc_id") >= evalIdBelow)
      .select(col("doc_id"), col("score"))
    // lmScored's pair and unigram scans and the lmPass join all read
    // it on doc_id, the key it stays partitioned by
    val quality = store("quality", qualityPolicy match {
      case QualityPolicy.AbsoluteFloor =>
        docs.df.join(scored.filter(col("score") >= 0.05), "doc_id")
      case QualityPolicy.SourceDeciles(k) =>
        // q141's kernel on the post-carveout corpus: the decile frame
        // is corpus-narrow and left-semi keeps the frame shape
        // identical to the floor path (score column included — stage
        // 4 reads the separate `scored` frame either way)
        val dec = graft.queries.CurationOps
          .sourceDeciles(spark, sfDir, evalIdBelow)
          .filter(col("decile") < k).select(col("doc_id"))
        docs.df.join(scored, "doc_id").join(dec, Seq("doc_id"), "left_semi")
      case QualityPolicy.TrainedDeciles(k) =>
        // train on the post-carveout corpus, score through the
        // factored seam, global decile on the LEARNED z (q141's rank
        // shape on one block; the score frame is corpus-narrow)
        val C = graft.queries.CurationOps
        val (fx, _, _, w3) = C.gdRounds(spark, sfDir, evalIdBelow)
        // the design matrix's row count, observed by the job that
        // stored it (same universe as `ranked`: every fx row scores).
        // It doubles as the gdStep non-emptiness guard: an empty
        // post-carveout matrix trains null weights that silently keep
        // nothing.
        val nFx = fx.rows
        require(nFx > 0,
          s"TrainedDeciles: empty design matrix after carveout (evalIdBelow=$evalIdBelow) — " +
            "gdRounds would train null weights; lower the carveout or use another QualityPolicy")
        val z = C.gdScores(fx.df, w3).withColumn("__blk", lit(0L))
        // nFx is exactly the rank input's row count (every fx row
        // scores), so hand it to BlockRanks: below the 32k threshold
        // the plain-window form skips the split path's three extra
        // stages (range-sample job, checkpoint, offset join); above
        // it the scale-safe split runs
        val ranked = graft.ops.BlockRanks.withBlockRank(
          z, "__blk", Seq(col("z").desc, col("doc_id")), "rk",
          knownRows = nFx)
        val dec = ranked
          .filter(expr(s"(rk - 1) * 10 div $nFx") < k)
          .select(col("doc_id"))
        docs.df.join(scored, "doc_id").join(dec, Seq("doc_id"), "left_semi")
    })

    // 2. LM typicality gate (q125's kernel): the bigram LM is trained
    // on the quality-passed corpus itself and drops the low-typicality
    // TAIL — a QUANTILE cut, not a fixed floor (CCNet's perplexity
    // buckets are quantile-based for exactly this reason: absolute
    // scores shift with corpus composition — the sf1 replica corpus
    // scores systematically lower and a fixed floor silently emptied
    // the funnel there). The threshold is the `lmTailFrac` order
    // statistic of a 256-doc deterministic sample (q113's KMV idea:
    // smallest xxhash64(doc_id) values — no corpus sort, bounded rows,
    // bit-reproducible). The train frame is the seam where a curated
    // reference corpus would plug in. The scores are stored: they feed
    // both the threshold and the join, and left as one lazy plan, AQE's
    // join choices there followed the order its stages happened to end.
    val lmScores = described("lm")(Stored.checkpoint(
      graft.queries.CurationOps.lmScored(quality.df)
        .select(col("doc_id"), col("lm_score")))).df
    val kSample = 256
    val cutIdx = math.max(1, (kSample * lmTailFrac).toInt)
    val lmThr = lmScores
      .select(col("lm_score"), xxhash64(col("doc_id")).as("__h"))
      .orderBy(col("__h")).limit(kSample)
      .orderBy(col("lm_score")).limit(cutIdx)
      .agg(max(col("lm_score")).as("__lm_floor"))
    // left join + null pass-through: lmScored emits no row for docs
    // with fewer than 2 non-empty tokens (a bigram LM has nothing to
    // score), and an inner join would silently DROP those docs — a
    // stricter cut than the documented quantile tail. Unscoreable docs
    // pass this gate; the quality gate above already judged them.
    val lmPass = store("lm", quality.df.join(lmScores, Seq("doc_id"), "left")
      .crossJoin(lmThr)
      .filter(col("lm_score").isNull || col("lm_score") >= col("__lm_floor"))
      .drop("lm_score", "__lm_floor"))

    // 3. exact dedup: min doc_id survives its md5(text) group (q29).
    // Only the (md5, doc_id) pairs shuffle, and the semi join keeps the
    // stage partitioned on doc_id for stage 4's anti join.
    val survivors = lmPass.df.groupBy(md5(col("text")))
      .agg(min(col("doc_id")).as("doc_id")).select(col("doc_id"))
    val exact = store("exact", lmPass.df.join(survivors, Seq("doc_id"), "left_semi"))

    // 4. near-dup prune: the shared near-dup pair graph (q33's LSH
    // generation, ≡ q32's exact output — LlmOps.nearDupPairs' doc),
    // q89's survivor rule
    // stored: `pairs` feeds BOTH union branches below and
    // Catalyst plans each occurrence independently — unmaterialized,
    // the whole LSH generation (shingle → minhash → band join →
    // Jaccard verify) ran twice. The pair graph is output-sized (edges
    // between near-dups), tiny next to the corpus scan that produces it.
    val pairs = described("near")(Stored.checkpoint(
      graft.queries.LlmOps.nearDupPairs(spark, sfDir).select(col("id_a"), col("id_b")))).df
    val e = pairs.select(col("id_a").as("me"), col("id_b").as("other"))
      .union(pairs.select(col("id_b").as("me"), col("id_a").as("other")))
    val losers = e
      .join(scored.select(col("doc_id").as("me"), col("score").as("my_score")), "me")
      .join(scored.select(col("doc_id").as("other"), col("score").as("other_score")), "other")
      .filter(col("other_score") > col("my_score") ||
        (col("other_score") === col("my_score") && col("other") < col("me")))
      .select(col("me").as("doc_id")).distinct()
    val nearDeduped = store("near",
      exact.df.join(losers, Seq("doc_id"), "left_anti"))

    // 4b. MULTIMODAL dedup: the corpus's rendered media deduped through
    // the same factored seams the oracle-gated queries verify —
    //   NEAR: q128's perceptual image pairs, q131's video pairs,
    //   q132's audio pairs (each a capped blocked cosine ≥ 0.95;
    //   pairs carry id_a < id_b, so dropping every id_b is the
    //   min-doc-survivor rule);
    //   EXACT: q129's audio and q130's video fingerprint groups (all
    //   but the min doc_id of each band-energy group) — kept even
    //   though the near arms catch cosine-1.0 pairs, because the rank
    //   cap makes the near arms' coverage of a >1024-member exact
    //   clique heuristic while the group rule is provably total.
    // All graphs are computed CORPUS-WIDE and losers subtracted from
    // the current survivors — the stage-4 nearDupPairs convention (a
    // winner the funnel already dropped still eliminates its copies).
    // Scale shape: three capped blocked joins + two map-side-combined
    // fingerprint exchanges, all linear in the corpus (q128-q132's
    // documented contracts); nothing corpus-sized is broadcast.
    // Each modality's render+decode pass is the stage's dominant cost
    // and feeds TWO consumers (the exact group rule and the near-dup
    // kernel) — Catalyst plans each occurrence independently, so
    // without a checkpoint at this fan-out the WAV and AVI walks run
    // twice per pipeline run. The bands frames are 16 longs/doc.
    val P = graft.queries.PipelineOps
    val nDocs = P.nonEmptyDocCount(spark, sfDir)
    val aBands = described("media")(Stored.checkpoint(P.audioBands(spark, sfDir))).df
    val vBands = described("media")(Stored.checkpoint(P.videoBands(spark, sfDir))).df
    val nearLosers = Seq(
      P.perceptualDupPairs(spark, sfDir, nDocs),
      P.videoNearDupPairsFrom(spark, vBands, nDocs),
      P.audioNearDupPairsFrom(spark, aBands, nDocs))
      .map(_.select(col("id_b").as("doc_id")))
      .reduce(_ union _)
    def fpLosers(fp: DataFrame): DataFrame = {
      val wFp = Window.partitionBy(col("fp"))
      fp.withColumn("__keep", col("doc_id") === min(col("doc_id")).over(wFp))
        .filter(!col("__keep")).select(col("doc_id"))
    }
    val mediaLosers = nearLosers.union(fpLosers(P.bandsFp(aBands)))
      .union(fpLosers(P.bandsFp(vBands)))
      .distinct()
    val mediaDeduped = store("media",
      nearDeduped.df.join(mediaLosers, Seq("doc_id"), "left_anti"))

    // 5. decontamination: drop docs sharing any 5-gram with the eval
    // set — q133's Bloom pre-screen in front of q77's exact join. The
    // constant-size bitmap frame (≤4096 rows regardless of blocklist
    // size) screens the whole corpus through four broadcast word-index
    // joins; the Bloom test has ZERO false negatives, so the exact q77
    // pass — the only part that must see the probe shingles themselves
    // — runs on just the flagged sliver and the final verdict is
    // BIT-IDENTICAL to the unscreened stage (CurateSpec pins this
    // equivalence). At 100 TB with a multi-TB blocklist the probe set
    // stops broadcasting but the bitmap does not grow; the exact join
    // then shuffles sliver-sized, not corpus-sized — the scale regime
    // q133's scaladoc documents.
    val grams = (df: DataFrame) => df
      .select(col("doc_id"), expr(s"filter($toksSql, t -> t <> '')").as("ts"))
      .filter(size(col("ts")) >= 5)
      .select(col("doc_id"),
        explode(array_distinct(graft.functions.GraftFunctions.ngrams(col("ts"), 5))).as("g"))
    val TO = graft.queries.TrainingOps
    // tiny (distinct grams of the eval docs) but it fans into the
    // bitmap build AND the exact join — store the fan-out
    val probe = described("decontam")(Stored.checkpoint(
      grams(T.documents(spark, sfDir).filter(col("doc_id") < evalIdBelow))
        .select(col("g")).distinct())).df
    // the bitmap frame fans into FOUR broadcast builds (the q133
    // convention — Catalyst does not share identical subplans)
    val words = described("decontam")(Stored.checkpoint(TO.bloomWords(probe))).df
    val flagged = TO.bloomProbeFlagged(TO.bloomGrams(mediaDeduped.df), words)
      .select(col("doc_id"))
    val contaminated = grams(
        mediaDeduped.df.join(flagged, Seq("doc_id"), "left_semi"))
      // broadcast: unhinted, this stage runs 2 more jobs (Curate 88 → 90 at sf0.01)
      .join(broadcast(probe), "g")
      .select(col("doc_id")).distinct()
    val clean = store("decontam",
      mediaDeduped.df.join(contaminated, Seq("doc_id"), "left_anti"))

    // 5b. SEMANTIC decontamination (q126's kernel): drop docs whose
    // embedding is within `semThr` cosine of any eval probe — the
    // paraphrased-leakage class stage 5's lexical n-gram overlap cannot
    // see (a paraphrase shares no 5-gram with its source but sits next
    // to it in embedding space). The corpus↔embedding seam is the
    // testdata convention vec_id == doc_id; a production pipeline joins
    // on its own doc→vector key the same way. Docs without an embedding
    // pass through (left-anti drops only POSITIVE flags) — the lexical
    // pass above already judged their text. Probe embeddings are
    // broadcast-sized by nature (eval sets are small); the corpus pass
    // is map-side dots + one vec-keyed argmax exchange, linear.
    val semFlagged = graft.queries.CurationOps
      .semanticNearest(T.embeddings(spark, sfDir), evalIdBelow)
      .filter(col("cosine") >= semThr)
      .select(col("vec_id").as("doc_id"))
    val semClean = store("semdecontam",
      clean.df.join(semFlagged, Seq("doc_id"), "left_anti"))

    // 6. block-level keep-first rewrite (q123's kernel), placed AFTER
    // decontamination: the decon verdict is doc-level on pre-rewrite
    // text (conservative — a doc is dropped even when its contaminated
    // block would have been cut anyway), while everything downstream —
    // mixture token rates, chunk grids, shard fill — must see the
    // REWRITTEN corpus, or the rates and budgets describe text the
    // trainer will never consume. Docs whose every block is a repeat
    // vanish here (kept text empty).
    val rewritten = store("rewrite",
      semClean.df.drop("text")
        .join(graft.queries.TrainingOps.blockKeptText(semClean.df)
            .filter(length(col("kept_text")) > 0)
            .select(col("doc_id"), col("kept_text").as("text")),
          "doc_id"))

    // 6b. cluster-diversity thinning — the policy-selected sampler
    // (q140's SemDeDup-shape √-quota rule, or the identity default).
    // Placed with the other document-level filters, BEFORE stage 7:
    // mixture rates must reflect the thinned corpus or the mixture
    // over-delivers exactly the dense regions thinning just flattened.
    val thinned = samplingPolicy match {
      case SamplingPolicy.HashRate =>
        // identity: nothing is stored, so no lap is recorded (a "thin"
        // lap would time nothing)
        rewritten
      case SamplingPolicy.ClusterQuota =>
        // the REJECTED side (rk > quota) of q140's corpus-wide ranked
        // frame; docs without an embedding never appear in it and pass
        // through (the 5b convention). The reject list is
        // membership-frame-sized — everything corpus-scale stays
        // inside q139's documented pipeline, no new corpus scans.
        val rejected = graft.queries.CurationOps
          .clusterQuotaRanked(spark, sfDir)
          .filter(col("rk") > col("quota"))
          .select(col("vec_id").as("doc_id"))
        store("thin", rewritten.df.join(rejected, Seq("doc_id"), "left_anti"))
    }

    // 7. mixture rebalance on the CLEAN, REWRITTEN corpus: the
    // policy-selected rate rule (q84 equalize / q136 temperature),
    // applied via q93's reproducible hash filter. Both policies share
    // the same plan shape — one sources-sized token agg, one
    // broadcast totals row, one broadcast rate join — so swapping
    // policy never adds a corpus scan.
    val withTok = thinned.df.withColumn("n_tok",
      expr(s"size(filter($toksSql, t -> t <> ''))"))
    val per = withTok.groupBy(col("source")).agg(sum(col("n_tok")).cast("bigint").as("n_tokens"))
    val rates = mixtureCuts(per, mixture)
    val sampled = store("sample", withTok
      .withColumn("__bucket",
        expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as int)"))
      .join(rates, "source")
      .filter(col("__bucket") < col("cut"))
      .drop("__bucket", "cut"))

    // 8. chunking (q100's stride grid) — the sampled docs become
    // fixed-context training examples. chunk_text slices the SAME
    // token array the counts use, inside one projection, so there is
    // no second tokenize pass and nothing array-typed crosses a
    // shuffle. The ord key is q101's (doc_id << 20 | chunk_start)
    // encoding with BOTH halves of its contract enforced in-plan.
    // The storing job also sums `nc`: every chunk is written to exactly
    // one shard, so the sum is the tokens as written (with stride <
    // window the overlap is counted twice: the trainer consumes it twice).
    val chunked = store("chunk", sampled.df
      .filter(col("n_tok") > 0)
      .withColumn("toks", expr(s"filter($toksSql, t -> t <> '')"))
      .select(col("source"), col("doc_id"), col("lang"), col("toks"), col("n_tok"),
        explode(expr(s"sequence(0, n_tok - 1, $chunkStride)")).as("chunk_start"))
      .select(col("source"), col("doc_id"), col("lang"),
        col("chunk_start").cast("long").as("chunk_start"),
        least(lit(chunkWindow.toLong), col("n_tok") - col("chunk_start"))
          .cast("long").as("nc"),
        array_join(expr(s"slice(toks, chunk_start + 1, $chunkWindow)"), " ")
          .as("chunk_text"),
        (col("doc_id") * (1L << 20) +
          when(assert_true(
            col("chunk_start") < (1L << 20) && col("doc_id") < (1L << 43),
            lit("Curate: doc exceeds the 2^20-token ord-encoding cap " +
              "or doc_id exceeds the 2^43 id cap")).isNull,
            col("chunk_start"))).as("ord")),
      coalesce(sum(col("nc")), lit(0L)).as("tokens"))

    // 9. chunk -> shard packing (q101's composition over q78's
    // two-pass block-decomposed prefix sum — no single-task-per-source
    // window; see ops.ShardPacking)
    val packed = graft.ops.ShardPacking
      .assignShards(chunked.df, "source", "ord", "nc", tokenBudget)

    // 10. immutable shard artifacts, prunable by (source, shard_id).
    packed
      .select(col("source"), col("shard_id"), col("doc_id"),
        col("chunk_start"), col("nc"), col("lang"), col("chunk_text"))
      .write.mode("overwrite").partitionBy("source", "shard_id")
      .parquet(s"$outDir/shards")
    lap("pack+write")

    // one directory per written (source, shard_id), listed on the driver
    val shards = new Path(s"$outDir/shards")
    val nShards = shards.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .globStatus(new Path(shards, "source=*/shard_id=*")).count(_.isDirectory).toLong
    Report(docs.rows, quality.rows, lmPass.rows, exact.rows, nearDeduped.rows,
      mediaDeduped.rows, clean.rows, semClean.rows, rewritten.rows, thinned.rows, sampled.rows,
      chunked.rows, nShards, chunked.metrics.getLong(1))
  }
}
