package graft.queries

import graft.{Q, Tables => T}
import graft.ops.Stored
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Fifth capability wave — the curation operators that sit between
  * "deduplicated corpus" (LlmOps/TrainingOps) and "training run":
  * corpus-wide duplicated-span detection, embedding-based
  * auto-labeling, model-based quality scoring, source-mixture
  * rebalancing, vocabulary/OOV profiling, and statistical outlier
  * pruning.
  *
  * Shared discipline with the earlier waves: candidate generation
  * before verification, keyed shuffles only, broadcast for
  * bounded-size sides, and cross-engine-deterministic arithmetic —
  * counts stay exact int64 until a division, and every double
  * expression is written with the SAME operation sequence on the Spark
  * and DuckDB sides (IEEE-754 ops are individually deterministic, so
  * an identical sequence yields bit-identical results).
  */
object CurationOps {

  import graft.Qdsl.{oracleToksSql, toksSql}

  // ---------------------------------------------------------------------
  // q81 — corpus-wide duplicated n-gram spans
  // ---------------------------------------------------------------------

  /** Per-document duplicated-span exposure: the fraction of a doc's
    * distinct 8-gram shingles that occur in at least one OTHER
    * document — the corpus-wide symmetric cousin of q77's probe-set
    * overlap, and the detection half of exact substring dedup (Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better": train-set memorization tracks duplicated spans, not just
    * duplicated documents). Downstream, spans of docs above a
    * dup_frac threshold are cut or the docs dropped.
    *
    * Scale shape: ONE explode of distinct per-doc shingles → a
    * doc-frequency hash-agg keyed on the gram → an inner join back on
    * the gram key → per-doc count. Both join sides derive from the
    * same exploded frame, so the join is shuffle-keyed on the gram
    * (NOT broadcast: the duplicated-gram set grows with the corpus,
    * unlike q77's fixed probe set). The gram key IS `xxhash64(gram)`
    * — 8 bytes instead of ~50 text bytes through both shuffles (7.0 →
    * ~1.5 MB at sf0.1); the string-keyed DuckDB oracle is the
    * collision audit (a 64-bit merge would mint a phantom df≥2 gram
    * and move a doc's dup_frac), the q98/q115 convention.
    */
  val q81NgramDupSpans = Q(
    "q81_ngram_dup_spans",
    (s, dir) => {
      val g = T.documentsSpread(s, dir)
        .select(col("doc_id"), expr(s"filter($toksSql, t -> t <> '')").as("ts"))
        .filter(size(col("ts")) >= 8)
        .select(col("doc_id"),
          array_distinct(graft.functions.GraftFunctions.ngrams(col("ts"), 8))
            .as("grams"))
      val ex = g.select(col("doc_id"), size(col("grams")).as("n_grams"),
          explode(col("grams")).as("gs"))
        .select(col("doc_id"), col("n_grams"), xxhash64(col("gs")).as("g"))
      val dup = ex.groupBy(col("g"))
        .agg(countDistinct(col("doc_id")).as("df"))
        .filter(col("df") >= 2).select(col("g"))
      ex.join(dup, "g")
        .groupBy(col("doc_id"), col("n_grams"))
        .agg(count(lit(1)).as("n_dup"))
        .select(col("doc_id"), col("n_dup"), col("n_grams"),
          (col("n_dup").cast("double") / col("n_grams")).as("dup_frac"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      g AS (
        SELECT doc_id,
          list_distinct(list_transform(generate_series(1, len(ts) - 7),
            i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
                 ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5] || ' ' ||
                 ts[i+6] || ' ' || ts[i+7])) AS grams
        FROM d WHERE len(ts) >= 8),
      ex AS (
        SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gr FROM g),
      dup AS (
        SELECT gr FROM ex GROUP BY gr HAVING COUNT(DISTINCT doc_id) >= 2)
      SELECT ex.doc_id, CAST(COUNT(*) AS BIGINT) AS n_dup,
        CAST(ex.n_grams AS INTEGER) AS n_grams,
        CAST(COUNT(*) AS DOUBLE) / ex.n_grams AS dup_frac
      FROM ex JOIN dup USING (gr)
      GROUP BY ex.doc_id, ex.n_grams ORDER BY ex.doc_id""".stripMargin),
    "corpus-wide duplicated 8-gram spans (exact substring-dedup detection): distinct per-doc shingles -> xxhash64 gram doc-frequency hash-agg -> gram-keyed join back -> per-doc dup fraction; string-keyed oracle = collision audit")

  // ---------------------------------------------------------------------
  // q82 — k-NN label vote (embedding auto-labeling)
  // ---------------------------------------------------------------------

  /** k-nearest-neighbor label propagation: predict each query vector's
    * label as the majority label of its 5 nearest labeled neighbors by
    * cosine — the embedding-space auto-labeler curation pipelines use
    * to extend a small seed of human labels (quality/domain tags)
    * across an unlabeled corpus.
    *
    * Scale shape: identical to q34's exact top-k — the QUERY side is
    * the small one and is broadcast; the labeled corpus streams
    * through ONE scan with a sequenced-fold dot product (native
    * `dot` kernel, codegen). The vote layer adds only per-query-sized
    * aggregation above the rank filter. For a huge query side, q43's
    * hyperplane-LSH bucketing is the recall-trading fallback; the
    * arithmetic here stays exact so the oracle can replay it.
    */
  val q82KnnLabelVote = Q(
    "q82_knn_label_vote",
    (s, dir) => {
      import graft.functions.GraftFunctions.dot
      val e = T.embeddings(s, dir)
        .select(col("vec_id"), col("label"),
          expr("transform(embedding, x -> cast(x as double))").as("v"))
        .select(col("vec_id"), col("label"), col("v"),
          sqrt(dot(col("v"), col("v"))).as("nrm"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("label").as("true_label"),
          col("v").as("qv"), col("nrm").as("qn"))
      // broadcast: no equi-key; 10 rows estimated at 4.5 MB at sf1, linear — past 10 MB a CartesianProduct
      val scored = e.filter(col("vec_id") >= 10).join(broadcast(q))
        .select(col("query_id"), col("true_label"),
          col("vec_id").as("neighbor_id"), col("label").as("nlabel"),
          (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cosine"))
      val wR = Window.partitionBy(col("query_id"))
        .orderBy(col("cosine").desc, col("neighbor_id"))
      val votes = scored.withColumn("rk", row_number().over(wR))
        .filter(col("rk") <= 5)
        .groupBy(col("query_id"), col("true_label"), col("nlabel"))
        .agg(count(lit(1)).as("votes"))
      val wV = Window.partitionBy(col("query_id"))
        .orderBy(col("votes").desc, col("nlabel"))
      votes.withColumn("vr", row_number().over(wV))
        .filter(col("vr") === 1)
        .select(col("query_id"), col("true_label"),
          col("nlabel").as("pred_label"), col("votes"))
        .orderBy(col("query_id"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, label,
          list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        FROM embeddings),
      n AS (
        SELECT vec_id, label, v,
          sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) nrm
        FROM e),
      p AS (
        SELECT q.vec_id AS query_id, q.label AS true_label,
          c.vec_id AS neighbor_id, c.label AS nlabel,
          list_reduce(list_transform(generate_series(1, len(q.v)),
            i -> q.v[i]*c.v[i]), (x,y) -> x+y) / (q.nrm*c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id >= 10),
      r AS (
        SELECT query_id, true_label, nlabel,
          ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY cosine DESC, neighbor_id) AS rk
        FROM p),
      v AS (
        SELECT query_id, true_label, nlabel,
          CAST(COUNT(*) AS BIGINT) AS votes
        FROM r WHERE rk <= 5 GROUP BY query_id, true_label, nlabel),
      f AS (
        SELECT query_id, true_label, nlabel AS pred_label, votes,
          ROW_NUMBER() OVER (PARTITION BY query_id
            ORDER BY votes DESC, nlabel) AS vr
        FROM v)
      SELECT query_id, true_label, pred_label, votes
      FROM f WHERE vr = 1 ORDER BY query_id""".stripMargin),
    "k-NN label vote: broadcast query set, one labeled-corpus scan with codegen dot products, top-5 rank then majority vote with deterministic tie-break (votes desc, label asc) — embedding auto-labeling")

  // ---------------------------------------------------------------------
  // q83 — linear quality-model scoring
  // ---------------------------------------------------------------------

  /** Model-based quality scoring: a fixed linear classifier over cheap
    * text features (the fasttext-style quality scorer of the CCNet /
    * GPT-3 lineage, with handwritten weights so the oracle can replay
    * the arithmetic). Features are exact integer counts; each ratio is
    * one IEEE division and the score is the same multiply-add sequence
    * on both engines — bit-identical, no tolerance needed.
    *
    * Scale shape: pure per-row projection (one corpus scan, no
    * shuffle except the final order); the regex counts run inside
    * whole-stage codegen. A learned model would swap the weight
    * literals for a broadcast weight map — same plan.
    */
  /** The q83 feature/score frame (doc_id .. score), shared with q89's
    * survivorship ranking and the [[graft.curation.Curate]] pipeline so
    * all three run the identical arithmetic.
    */
  /** q83's INTEGER feature frame (doc_id, n_chars, n_toks, n_stop,
    * n_punct, n_upper), docs with ≥1 token — factored so q141's
    * fixed-point calibration consumes the exact counts rather than
    * reconstructing them from the float ratios. */
  private[graft] def qualityFeatures(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val stop = "array('the','a','of','and','to','in','is','was')"
    T.documentsSpread(s, dir)
      .select(col("doc_id"), col("n_chars").cast("long").as("n_chars"),
        expr(s"filter($toksSql, t -> t <> '')").as("ts"), col("text"))
      .select(col("doc_id"), col("n_chars"),
        size(col("ts")).as("n_toks"),
        expr(s"size(filter(ts, t -> array_contains($stop, t)))").as("n_stop"),
        (length(col("text")) - length(regexp_replace(col("text"), "[.,;:!?]", "")))
          .as("n_punct"),
        (length(col("text")) - length(regexp_replace(col("text"), "[A-Z]", "")))
          .as("n_upper"))
      .filter(col("n_toks") >= 1)
  }

  private[graft] def qualityScored(s: org.apache.spark.sql.SparkSession, dir: String) = {
    qualityFeatures(s, dir)
      .select(col("doc_id"), col("n_toks"), col("n_stop"),
        (col("n_stop").cast("double") / col("n_toks")).as("stop_ratio"),
        (col("n_punct").cast("double") / col("n_chars")).as("punct_ratio"),
        (col("n_upper").cast("double") / col("n_chars")).as("upper_ratio"))
      .withColumn("score",
        lit(1.2) * col("stop_ratio") - lit(3.0) * col("punct_ratio")
          - lit(2.0) * col("upper_ratio"))
  }

  val q83QualityScore = Q(
    "q83_quality_score",
    (s, dir) =>
      qualityScored(s, dir)
        .withColumn("keep", when(col("score") >= 0.05, 1).otherwise(0))
        .orderBy(col("doc_id")),
    Some(s"""
      WITH f AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
          CAST(len(list_filter($oracleToksSql, t -> t <> ''))
               AS INTEGER) AS n_toks,
          CAST(len(list_filter($oracleToksSql,
            t -> list_contains(['the','a','of','and','to','in','is','was'], t)))
               AS INTEGER) AS n_stop,
          length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
            AS n_punct,
          length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
            AS n_upper
        FROM documents),
      r AS (
        SELECT doc_id, n_toks, n_stop,
          CAST(n_stop AS DOUBLE) / n_toks AS stop_ratio,
          CAST(n_punct AS DOUBLE) / n_chars AS punct_ratio,
          CAST(n_upper AS DOUBLE) / n_chars AS upper_ratio
        FROM f WHERE n_toks >= 1)
      SELECT doc_id, n_toks, n_stop, stop_ratio, punct_ratio, upper_ratio,
        1.2*stop_ratio - 3.0*punct_ratio - 2.0*upper_ratio AS score,
        CASE WHEN 1.2*stop_ratio - 3.0*punct_ratio - 2.0*upper_ratio >= 0.05
             THEN 1 ELSE 0 END AS keep
      FROM r ORDER BY doc_id""".stripMargin),
    "linear quality-model scoring (fasttext-style): exact integer features, per-row codegen projection, identical multiply-add sequence both engines; learned weights would arrive as a broadcast map, same plan")

  // ---------------------------------------------------------------------
  // q114 — quality-threshold sweep (the planning step before q83's filter)
  // ---------------------------------------------------------------------

  /** The curve a data team reads BEFORE fixing a quality cutoff: for
    * every candidate threshold, how many documents and tokens survive?
    * q83 applies one threshold (0.05); this sweeps them — scores are
    * bucketed to 1/20ths and the kept-from-the-top cumulative gives
    * docs/tokens/token-share at threshold = bucket/20 (the standard
    * "keep the top X% of tokens by quality" planning table, cf. the
    * classifier-threshold sweeps in CCNet/Gopher-style curation).
    *
    * Determinism: the score is q83's bit-identical multiply-add; the
    * bucket routes through FLOOR on both engines (DuckDB's int cast
    * rounds half-even, Spark's truncates — the repo's documented
    * pitfall); threshold = bucket/20.0 and token share are the same
    * IEEE divisions of identical ints. Scale shape: one doc-level
    * projection into a bucket-keyed partial agg (map-side combine),
    * then windows over the BUCKET table only — score ∈ [-5, 1.2]
    * bounds it to ≤ ~130 rows at any corpus size, so the unpartitioned
    * cumulative window is constant-sized by construction, never
    * corpus-sized.
    */
  val q114QualityThresholdCurve = Q(
    "q114_quality_threshold_curve",
    (s, dir) => {
      val byBucket = qualityScored(s, dir)
        .select(col("n_toks"),
          floor(col("score") * 20).cast("int").as("bucket"))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_toks")).cast("long").as("n_tokens"))
      val fromTop = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val whole = Window.orderBy(col("bucket").desc)
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      byBucket
        .withColumn("threshold", (col("bucket") / lit(20.0)).cast("double"))
        .withColumn("kept_docs", sum(col("n_docs")).over(fromTop).cast("long"))
        .withColumn("kept_tokens", sum(col("n_tokens")).over(fromTop).cast("long"))
        .withColumn("kept_token_share",
          col("kept_tokens").cast("double")
            / sum(col("n_tokens")).over(whole).cast("double"))
        .select(col("bucket"), col("threshold"), col("n_docs"), col("n_tokens"),
          col("kept_docs"), col("kept_tokens"), col("kept_token_share"))
        .orderBy(col("bucket").desc)
    },
    Some(s"""
      WITH f AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
          CAST(len(list_filter($oracleToksSql, t -> t <> ''))
               AS INTEGER) AS n_toks,
          CAST(len(list_filter($oracleToksSql,
            t -> list_contains(['the','a','of','and','to','in','is','was'], t)))
               AS INTEGER) AS n_stop,
          length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
            AS n_punct,
          length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
            AS n_upper
        FROM documents),
      sc AS (
        SELECT n_toks,
          1.2*(CAST(n_stop AS DOUBLE)/n_toks)
            - 3.0*(CAST(n_punct AS DOUBLE)/n_chars)
            - 2.0*(CAST(n_upper AS DOUBLE)/n_chars) AS score
        FROM f WHERE n_toks >= 1),
      b AS (
        SELECT CAST(FLOOR(score * 20) AS INTEGER) AS bucket,
          CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_toks) AS BIGINT) AS n_tokens
        FROM sc GROUP BY 1)
      SELECT bucket, CAST(bucket / 20.0 AS DOUBLE) AS threshold,
        n_docs, n_tokens,
        CAST(SUM(n_docs) OVER (ORDER BY bucket DESC) AS BIGINT) AS kept_docs,
        CAST(SUM(n_tokens) OVER (ORDER BY bucket DESC) AS BIGINT) AS kept_tokens,
        CAST(SUM(n_tokens) OVER (ORDER BY bucket DESC) AS DOUBLE)
          / CAST(SUM(n_tokens) OVER () AS DOUBLE) AS kept_token_share
      FROM b ORDER BY bucket DESC""".stripMargin),
    "quality-threshold sweep: score buckets (floor on both engines) -> bucket-keyed partial agg -> cumulative kept docs/tokens/share from the top — the planning table behind q83's cutoff; windows run over the <=130-row bucket table, never the corpus")

  // ---------------------------------------------------------------------
  // q84 — source-mixture rebalancing
  // ---------------------------------------------------------------------

  /** Down-sampling rates that equalize the token contribution of every
    * source (the uniform special case of target-mixture reweighting, cf.
    * The Pile / DoReMi domain weights): rate_s = min_tokens /
    * tokens_s, so each source contributes ~min_tokens after sampling.
    * The rate then drives a q67-style hash filter — membership is a
    * pure function of the data, so the plan is reproducible.
    *
    * Scale shape: one token-count agg keyed on source (map-side
    * partial), then a single-row global min joined back — per-source
    * stats are mixture-weight-table sized (tiny) at any corpus scale.
    */
  /** Per-source corpus stats `(source, n_docs, n_tokens)` — the shared
    * first scan of the whole mixture family (q84 rates, q93 apply,
    * q103 epochs): one source-keyed agg with map-side partial combine,
    * sources-sized output. Factored so the three queries run the
    * IDENTICAL arithmetic (their oracles already assume it) and so a
    * composed pipeline can store this one frame and derive all
    * three mixture tables from a single corpus scan.
    */
  private[graft] def sourceTokenStats(s: org.apache.spark.sql.SparkSession,
      dir: String) =
    T.documentsSpread(s, dir)
      .select(col("source"),
        expr(s"size(filter($toksSql, t -> t <> ''))").as("n"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).cast("bigint").as("n_tokens"))

  val q84MixtureRebalance = Q(
    "q84_mixture_rebalance",
    (s, dir) => {
      val per = sourceTokenStats(s, dir)
      val mn = per.agg(min(col("n_tokens")).as("min_tok"))
      per.crossJoin(mn)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          (col("min_tok").cast("double") / col("n_tokens")).as("rate"),
          floor((col("min_tok").cast("double") / col("n_tokens")) * col("n_tokens"))
            .cast("bigint").as("sampled_tokens"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH d AS (
        SELECT source,
          len(list_filter($oracleToksSql, t -> t <> '')) AS n
        FROM documents),
      p AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM d GROUP BY source),
      m AS (SELECT *, MIN(n_tokens) OVER () AS min_tok FROM p)
      SELECT source, n_docs, n_tokens,
        CAST(min_tok AS DOUBLE) / n_tokens AS rate,
        CAST(FLOOR((CAST(min_tok AS DOUBLE) / n_tokens) * n_tokens) AS BIGINT)
          AS sampled_tokens
      FROM m ORDER BY source""".stripMargin),
    "source-mixture rebalancing: per-source token counts (one keyed agg) + broadcast global min -> deterministic per-source sampling rates; rates feed a q67-style hash filter for reproducible membership")

  // ---------------------------------------------------------------------
  // q85 — vocabulary coverage / OOV profiling
  // ---------------------------------------------------------------------

  /** Out-of-vocabulary profile: induce the corpus's top-100 token
    * vocabulary (count desc, token asc — fully deterministic), then
    * report each source's token coverage against it. The
    * tokenizer-fit diagnostic run before committing a vocab: a source
    * with a high OOV rate will fragment into subword soup.
    *
    * Scale shape: one token hash-agg for the vocab (map-side partial
    * combine), `TakeOrderedAndProject` for the top-100 (never a full
    * sort), and the vocabulary — fixed-size by construction — is
    * BROADCAST back against one corpus token stream. The per-source
    * agg pre-aggregates map-side; no corpus-sized shuffle anywhere.
    */
  val q85VocabOov = Q(
    "q85_vocab_oov",
    (s, dir) => {
      val toks = T.documentsSpread(s, dir)
        .select(col("source"), explode(expr(toksSql)).as("t"))
        .filter(col("t") =!= "")
      val vocab = toks.groupBy(col("t")).agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("t")).limit(100)
        .select(col("t"), lit(1).as("inv"))
      toks.join(vocab, Seq("t"), "left")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_toks"),
          sum(when(col("inv").isNull, 1).otherwise(0)).cast("bigint").as("n_oov"))
        .select(col("source"), col("n_toks"), col("n_oov"),
          (col("n_oov").cast("double") / col("n_toks")).as("oov_rate"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH tk AS (
        SELECT source, t
        FROM (SELECT source,
                unnest($oracleToksSql) AS t
              FROM documents)
        WHERE t <> ''),
      v AS (
        SELECT t FROM tk GROUP BY t
        ORDER BY COUNT(*) DESC, t LIMIT 100),
      j AS (
        SELECT tk.source, (v.t IS NOT NULL) AS inv
        FROM tk LEFT JOIN v ON tk.t = v.t)
      SELECT source, CAST(COUNT(*) AS BIGINT) AS n_toks,
        CAST(SUM(CASE WHEN NOT inv THEN 1 ELSE 0 END) AS BIGINT) AS n_oov,
        CAST(SUM(CASE WHEN NOT inv THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
          AS oov_rate
      FROM j GROUP BY source ORDER BY source""".stripMargin),
    "vocabulary/OOV profile: top-100 vocab via hash-agg + TakeOrderedAndProject (deterministic tie-break), broadcast back over one token stream, per-source coverage — the tokenizer-fit diagnostic")

  // ---------------------------------------------------------------------
  // q86 — statistical length-outlier pruning
  // ---------------------------------------------------------------------

  /** Per-source length outliers by the 2-sigma rule, evaluated in EXACT
    * integer arithmetic: |x - mu| > 2*sigma is multiplied through by
    * n^2 into (n*x - S)^2 > 4*(n*SS - S^2) where S = sum(x), SS =
    * sum(x^2) — no sqrt, no division, no float compare, so both
    * engines agree exactly even when a doc sits arbitrarily close to
    * the threshold. (Adaptive per-group bounds, vs q62's fixed Gopher
    * bounds. Magnitude check: n*SS < 2^63 holds up to ~10^8 docs of
    * 10^4 chars per group; beyond that the comparison lifts to
    * DECIMAL(38,0) unchanged.)
    *
    * Scale shape: two passes — a per-source moment agg (source-count
    * sized, joined back) and one scan with the integer predicate;
    * classic map-side-combine friendly aggs, no corpus shuffle.
    */
  val q86LengthOutliers = Q(
    "q86_length_outliers",
    (s, dir) => {
      val d = T.documents(s, dir)
        .select(col("source"), col("n_chars").cast("long").as("x"))
      val st = d.groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("x")).as("s1"),
          sum(col("x") * col("x")).as("s2"))
      d.join(st, "source")
        .withColumn("isout",
          when((col("n") * col("x") - col("s1")) * (col("n") * col("x") - col("s1"))
            > lit(4L) * (col("n") * col("s2") - col("s1") * col("s1")), 1).otherwise(0))
        .groupBy(col("source"))
        .agg(min(col("n")).as("n_docs"),
          (min(col("s1")).cast("double") / min(col("n"))).as("mean_chars"),
          sum(col("isout")).cast("bigint").as("n_outliers"))
        .orderBy(col("source"))
    },
    Some("""
      WITH d AS (
        SELECT source, CAST(n_chars AS BIGINT) AS x FROM documents),
      st AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
          CAST(SUM(x) AS BIGINT) AS s1, CAST(SUM(x*x) AS BIGINT) AS s2
        FROM d GROUP BY source),
      j AS (
        SELECT d.source, d.x, st.n, st.s1, st.s2
        FROM d JOIN st USING (source))
      SELECT source, MIN(n) AS n_docs,
        CAST(MIN(s1) AS DOUBLE) / MIN(n) AS mean_chars,
        CAST(SUM(CASE WHEN (n*x - s1)*(n*x - s1) > 4*(n*s2 - s1*s1)
                      THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
      FROM j GROUP BY source ORDER BY source""".stripMargin),
    "per-source 2-sigma length outliers in exact integer arithmetic ((n*x-S)^2 > 4(n*SS-S^2) — no sqrt/division/float compare); moment agg broadcast back over one scan, adaptive counterpart to q62's fixed bounds")

  // ---------------------------------------------------------------------
  // q87 — SemDeDup: cluster-then-dedup embedding near-duplicates
  // ---------------------------------------------------------------------

  /** Embedding-cosine near-duplicate pairs, SemDeDup-style (Abbas et
    * al. 2023): assign every vector to its nearest codebook centroid
    * (q60's IVF cells, reused verbatim), then compare pairs ONLY
    * within a cell — the cluster-then-dedup shape that makes
    * embedding dedup tractable, because the O(n^2) pair space drops to
    * O(sum of cell^2) and each cell's pair join is an equi-join on
    * cent_id. Pairs at cosine >= 0.35 are reported (this synthetic
    * corpus's "semantic duplicate" band; real corpora use ~0.95+).
    *
    * Scale shape: centroid assignment broadcasts the K=16 codebook
    * over one corpus scan; the within-cell pair join shuffles on
    * cent_id only. At 100 TB, K grows to ~sqrt(n) cells (SemDeDup used
    * 50k), keeping cells bounded; a skewed hot cell would be salted or
    * sub-clustered — the join stays keyed either way. Cross-cell
    * near-dups are the recall trade documented by the paper.
    */
  /** The LAZY membership plan over a given normalized-vectors frame
    * — split from [[cellMembers]] so the plan-pin specs can assert
    * the broadcast-codebook assignment shape that the checkpointed
    * production path materializes away. */
  private[graft] def cellMembersPlan(n: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    import graft.functions.GraftFunctions.cosArgmax
    // Assignment as one compiled map-side argmax (round 21, guide §2.1
    // "remove the shuffle outright" + §4): the previous form exploded
    // the corpus against the broadcast 16-row codebook (corpus×16
    // rows), ran a row_number window partitioned by vec_id (a corpus×16
    // exchange + sort whose ONLY job was picking the per-row max), and
    // joined the winning cent_id back to `n` (a second corpus-scale
    // exchange pair). The cid-sorted codebook now rides a 1-row
    // broadcast into a `cos_argmax` projection over the scan — same 16
    // dot-product flops per row, ZERO corpus exchanges. Equivalence:
    // the kernel's fold is the dot handle's (bit-identical cosines) and
    // its NaN-safe strict-max over the cid-ASC array reproduces the
    // window's (cos DESC, cent_id ASC) rn = 1 row exactly
    // (VecDistKernels.cosArgmax scaladoc); the size(cs) > 0 guard
    // reproduces the old inner join's empty-codebook ⇒ empty-output
    // semantics. Oracle (q87/q139/q140) re-proved at sf0.001/0.01/0.1.
    // PRECONDITION: vectors are NON-NULL — cos_argmax is
    // nullSafeEval, so a null v/nrm row would emit a null cent_id
    // where the old exploded window (null cos sorts last under DESC)
    // still assigned the smallest-cid candidate. The embedding column
    // is dense at every SF; a corpus with null vectors must filter
    // them before this projection.
    val cents = n.filter(col("vec_id").between(100, 115))
      .agg(sort_array(collect_list(struct(
        col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))))
        .as("cs"))
    n.crossJoin(cents)
      .filter(size(col("cs")) > 0)
      .select(col("vec_id"),
        cosArgmax(col("v"), col("nrm"), col("cs")).getField("cid")
          .as("cent_id"),
        col("v"), col("nrm"))
  }

  /** Normalized embedding vectors (vec_id, v, nrm). */
  private[graft] def normalizedVectors(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import graft.functions.GraftFunctions.dot
    T.embeddings(s, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .select(col("vec_id"), col("v"), sqrt(dot(col("v"), col("v"))).as("nrm"))
  }

  /** q87's cell-membership frame (vec_id, cent_id, v, nrm): broadcast
    * K=16 codebook argmax assignment as one `cos_argmax` projection
    * over the normalized vectors — factored so q139's mutual-kNN graph
    * runs on the SAME cells (one implementation, one oracle-checked
    * assignment rule). The membership frame is stored ([[Stored]]):
    * every caller fans it into a self-join. The normalized
    * vectors are not stored: they feed only that checkpoint's job, and
    * the centroid slice's vec_id filter runs below the projection, so
    * its second read of them is a bare scan.
    */
  private[graft] def cellMembers(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    Stored.checkpoint(cellMembersPlan(normalizedVectors(s, dir))).df

  val q87EmbedCellDedup = Q(
    "q87_embed_cell_dedup",
    (s, dir) => {
      import graft.functions.GraftFunctions.dot
      val m = cellMembers(s, dir)
      m.as("a").join(m.as("b"),
          col("a.cent_id") === col("b.cent_id") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.cent_id").as("cent_id"),
          col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm"))).as("cosine"))
        .filter(col("cosine") >= 0.35)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        FROM embeddings),
      n AS (
        SELECT vec_id, v,
          sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) nrm
        FROM e),
      c AS (
        SELECT vec_id AS cent_id, v AS cv, nrm AS cn
        FROM n WHERE vec_id BETWEEN 100 AND 115),
      sim AS (
        SELECT n.vec_id, c.cent_id,
          list_reduce(list_transform(generate_series(1, len(n.v)),
            i -> n.v[i]*c.cv[i]), (x,y) -> x+y) / (n.nrm*c.cn) AS cos
        FROM n, c),
      assign AS (
        SELECT vec_id, cent_id FROM (
          SELECT vec_id, cent_id,
            ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cos DESC, cent_id) rn
          FROM sim) WHERE rn = 1),
      m AS (
        SELECT a.vec_id, a.cent_id, n.v, n.nrm
        FROM assign a JOIN n USING (vec_id))
      SELECT a.cent_id, a.vec_id AS id_a, b.vec_id AS id_b,
        list_reduce(list_transform(generate_series(1, len(a.v)),
          i -> a.v[i]*b.v[i]), (x,y) -> x+y) / (a.nrm*b.nrm) AS cosine
      FROM m a JOIN m b ON a.cent_id = b.cent_id AND a.vec_id < b.vec_id
      WHERE list_reduce(list_transform(generate_series(1, len(a.v)),
          i -> a.v[i]*b.v[i]), (x,y) -> x+y) / (a.nrm*b.nrm) >= 0.35
      ORDER BY id_a, id_b""".stripMargin),
    "SemDeDup embedding near-dup: broadcast K=16 codebook assignment (q60's cells), within-cell pair join keyed on cent_id (O(sum cell^2), never O(n^2)), exact sequenced-fold cosines; K scales ~sqrt(n), hot cells salt/sub-cluster")

  // ---------------------------------------------------------------------
  // q88 — corpus length histogram
  // ---------------------------------------------------------------------

  /** Per-source document-length histogram (256-char bins, top bin
    * open) — the profiling readout curation dashboards plot before and
    * after every filter stage. Pure integer binning, one map-side
    * combinable agg; at any corpus scale the result is
    * sources x 10 rows.
    */
  val q88LengthHistogram = Q(
    "q88_length_histogram",
    (s, dir) =>
      T.documents(s, dir)
        .select(col("source"), col("n_chars").cast("long").as("x"))
        .withColumn("bin", least(lit(9L), expr("x div 256")))
        .groupBy(col("source"), col("bin"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy(col("source"), col("bin")),
    Some("""
      SELECT source, LEAST(9, CAST(n_chars AS BIGINT) // 256) AS bin,
        CAST(COUNT(*) AS BIGINT) AS n_docs
      FROM documents GROUP BY source, bin ORDER BY source, bin""".stripMargin),
    "per-source length histogram: integer 256-char bins (top bin open), one map-side-combinable agg, sources x 10 output at any scale — the before/after profiling readout of every filter stage")

  // ---------------------------------------------------------------------
  // q89 — quality-ranked near-dup survivorship
  // ---------------------------------------------------------------------

  /** Which near-duplicates actually get DROPPED: for every doc in a
    * q32 near-dup pair, it loses each pairing whose partner has the
    * higher quality score (q83's scorer, tie broken to the lower
    * doc_id) — the survivor-selection step that turns a pair list into
    * a delete list, keeping the best-quality copy of each duplicated
    * cluster's content. Output: the losing docs with their score and
    * how many partners beat them.
    *
    * Scale shape: the pair frame is tiny relative to the corpus (it
    * already passed the >= 0.8 Jaccard gate), so the score join is two
    * hash joins keyed on doc_id against a frame the optimizer is free
    * to broadcast; the scorer itself is q83's single-scan projection.
    */
  val q89NeardupPrune = Q(
    "q89_neardup_prune",
    (s, dir) => {
      // stored before the two-branch union below — the branches'
      // stages otherwise race to compute the q32 subtree twice (sf1
      // decade audit: 53x shuffle for 10x data; see q72)
      val pairs = Stored.checkpoint(LlmOps.nearDupPairs(s, dir)
        .select(col("id_a"), col("id_b"))).df
      val e = pairs.select(col("id_a").as("me"), col("id_b").as("other"))
        .union(pairs.select(col("id_b").as("me"), col("id_a").as("other")))
      // same treatment for the scorer: it is joined on BOTH edge
      // directions, and each join side would re-run the corpus scan +
      // spread shuffle; the stored frame is 16 bytes/doc
      val sc = Stored.checkpoint(qualityScored(s, dir).select(col("doc_id"), col("score"))).df
      e.join(sc.select(col("doc_id").as("me"), col("score").as("my_score")), "me")
        .join(sc.select(col("doc_id").as("other"), col("score").as("other_score")), "other")
        .filter(col("other_score") > col("my_score") ||
          (col("other_score") === col("my_score") && col("other") < col("me")))
        .groupBy(col("me").as("doc_id"))
        .agg(min(col("my_score")).as("score"), count(lit(1)).as("n_lost"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH s AS (
        SELECT doc_id,
          list_distinct(list_transform(generate_series(1, len(toks)-2),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, $oracleToksSql toks FROM documents)
        WHERE len(toks) >= 3),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM s a JOIN s b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
            / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8),
      f AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
          CAST(len(list_filter($oracleToksSql, t -> t <> ''))
               AS INTEGER) AS n_toks,
          CAST(len(list_filter($oracleToksSql,
            t -> list_contains(['the','a','of','and','to','in','is','was'], t)))
               AS INTEGER) AS n_stop,
          length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
            AS n_punct,
          length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
            AS n_upper
        FROM documents),
      r AS (
        SELECT doc_id,
          1.2*(CAST(n_stop AS DOUBLE) / n_toks)
            - 3.0*(CAST(n_punct AS DOUBLE) / n_chars)
            - 2.0*(CAST(n_upper AS DOUBLE) / n_chars) AS score
        FROM f WHERE n_toks >= 1),
      ed AS (
        SELECT id_a AS me, id_b AS other FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs)
      SELECT ed.me AS doc_id, MIN(rm.score) AS score,
        CAST(COUNT(*) AS BIGINT) AS n_lost
      FROM ed
      JOIN r rm ON rm.doc_id = ed.me
      JOIN r ro ON ro.doc_id = ed.other
      WHERE ro.score > rm.score
         OR (ro.score = rm.score AND ed.other < ed.me)
      GROUP BY ed.me ORDER BY doc_id""".stripMargin),
    "near-dup survivorship: the shared near-dup pair list (LlmOps.nearDupPairs, ≡ q32 exact) + q83's quality scorer -> the delete list (each doc loses to higher-scored partners, ties to lower doc_id); two doc_id-keyed hash joins on the tiny post-gate pair frame")

  // ---------------------------------------------------------------------
  // q90 — cross-source contamination matrix
  // ---------------------------------------------------------------------

  /** How much content leaks BETWEEN sources: for every source pair,
    * the number of distinct 8-gram shingles present in both — the
    * source-level contamination matrix that tells a pipeline whether
    * "independent" feeds are re-crawling each other (and therefore
    * whether per-source dedup is enough). Symmetric, reported once per
    * unordered pair.
    *
    * Scale shape: one explode to the DISTINCT (source, gram) frame
    * (vocabulary-of-grams sized, far below corpus size), then a
    * self-equi-join keyed on the gram and a sources^2-sized agg. A
    * gram shared by many sources fans out at most (n_sources choose
    * 2). The gram key IS xxhash64 (like q81/q98): the dedup exchange
    * and both self-join sides carry (source, int64) — 7.6 → ~1 MB
    * shuffled at sf0.1 — and the string-keyed DuckDB oracle is the
    * collision audit (a 64-bit merge would add a phantom shared gram
    * and flip the matrix).
    */
  val q90SourceLeakage = Q(
    "q90_source_leakage",
    (s, dir) => {
      val sg = T.documentsSpread(s, dir)
        .select(col("source"), expr(s"filter($toksSql, t -> t <> '')").as("ts"))
        .filter(size(col("ts")) >= 8)
        .select(col("source"),
          explode(array_distinct(graft.functions.GraftFunctions.ngrams(col("ts"), 8)))
            .as("g"))
        .select(col("source"), xxhash64(col("g")).as("g"))
        .distinct()
      sg.as("a").join(sg.as("b"),
          col("a.g") === col("b.g") && col("a.source") < col("b.source"))
        .groupBy(col("a.source").as("src_a"), col("b.source").as("src_b"))
        .agg(count(lit(1)).as("n_shared"))
        .orderBy(col("src_a"), col("src_b"))
    },
    Some(s"""
      WITH d AS (
        SELECT source,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      g AS (
        SELECT DISTINCT source,
          unnest(list_distinct(list_transform(generate_series(1, len(ts) - 7),
            i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
                 ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5] || ' ' ||
                 ts[i+6] || ' ' || ts[i+7]))) AS gr
        FROM d WHERE len(ts) >= 8)
      SELECT a.source AS src_a, b.source AS src_b,
        CAST(COUNT(*) AS BIGINT) AS n_shared
      FROM g a JOIN g b ON a.gr = b.gr AND a.source < b.source
      GROUP BY a.source, b.source ORDER BY src_a, src_b""".stripMargin),
    "cross-source contamination matrix: distinct (source, 8-gram-xxhash64) frame -> gram-keyed self-join -> sources^2 agg; tells the pipeline whether per-source dedup suffices; string-keyed oracle = collision audit")

  // ---------------------------------------------------------------------
  // q93 — mixture rates APPLIED as a reproducible hash filter
  // ---------------------------------------------------------------------

  /** The execution half of q84: turn each source's down-sampling rate
    * into an actual document filter by q67's hash-membership principle
    * — keep a doc iff its md5(doc_id) bucket (16 bits) falls below
    * floor(rate * 65536). Membership is a pure function of the data
    * and the rates, so for a FIXED rate table the sampled corpus is
    * bit-reproducible across runs, partitionings, and cluster sizes —
    * unlike rand(seed), which moves with physical layout. (The rates
    * here are data-derived for the demo; production would pin them in
    * a config table, making membership stable under corpus growth
    * too.) Reports per-source kept
    * docs/tokens so the achieved mixture can be audited against the
    * q84 targets.
    *
    * Scale shape: the rate table is sources-sized; the
    * filter is one codegen projection per corpus row; the audit agg is
    * map-side combinable. Nothing shuffles except the final
    * sources-sized agg.
    */
  val q93MixtureApply = Q(
    "q93_mixture_apply",
    (s, dir) => {
      val d = T.documentsSpread(s, dir)
        .select(col("source"), col("doc_id"),
          expr(s"size(filter($toksSql, t -> t <> ''))").as("n"),
          expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as int)")
            .as("bucket"))
      val per = sourceTokenStats(s, dir).select(col("source"), col("n_tokens"))
      val mn = per.agg(min(col("n_tokens")).as("min_tok"))
      val rates = per.crossJoin(mn)
        .select(col("source"),
          (col("min_tok").cast("double") / col("n_tokens")).as("rate"),
          floor((col("min_tok").cast("double") / col("n_tokens")) * 65536)
            .cast("long").as("cut"))
      d.join(rates, "source")
        .filter(col("bucket") < col("cut"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"),
          sum(col("n")).cast("bigint").as("kept_tokens"),
          min(col("rate")).as("rate"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH d AS (
        SELECT source, doc_id,
          len(list_filter($oracleToksSql, t -> t <> '')) AS n,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT AS bucket
        FROM documents),
      p AS (
        SELECT source, CAST(SUM(n) AS BIGINT) AS n_tokens FROM d GROUP BY source),
      m AS (SELECT source, n_tokens, MIN(n_tokens) OVER () AS min_tok FROM p),
      r AS (
        SELECT source, CAST(min_tok AS DOUBLE) / n_tokens AS rate,
          CAST(FLOOR((CAST(min_tok AS DOUBLE) / n_tokens) * 65536) AS BIGINT)
            AS cut
        FROM m)
      SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n_kept,
        CAST(SUM(d.n) AS BIGINT) AS kept_tokens, MIN(r.rate) AS rate
      FROM d JOIN r ON d.source = r.source
      WHERE d.bucket < r.cut
      GROUP BY d.source ORDER BY d.source""".stripMargin),
    "mixture rates applied: q84's per-source rate becomes a hash-membership filter (md5 bucket < floor(rate*2^16)) — bit-reproducible sampling under any partitioning or corpus growth; broadcast rate table, one codegen filter pass, audit agg")

  // ---------------------------------------------------------------------
  // q95 — salted hot-key join, oracle-gated
  // ---------------------------------------------------------------------

  /** [[graft.ops.SkewJoin.saltedJoin]] promoted into the correctness
    * gate: join the corpus to a per-language weight table on `lang` —
    * a genuinely skewed key ('en' alone is ~44% of the corpus — the
    * canonical hot key a plain shuffle join serializes onto one task
    * at 100 TB) — salted 8 ways, then aggregate. The oracle is the
    * PLAIN join in DuckDB, so the driver hash-compare proves the
    * salting transformation is result-invariant on real data (every
    * fact row meets exactly one dim copy), which is SkewJoin's whole
    * contract. Weighted sums run in exact decimal (Qdsl d2) so the
    * agg is bit-identical cross-engine.
    *
    * Plan caveat: a 5-row dim is auto-broadcast, so THIS instance
    * never shuffles the fact side; the salted spread of a
    * broadcast-ineligible dim (the case salting exists for) is pinned
    * under autoBroadcastJoinThreshold=-1 in SkewJoinSpec. The gate
    * here is semantics, not the plan.
    */
  val q95SaltedJoin = Q(
    "q95_salted_join",
    (s, dir) => {
      import s.implicits._
      val dim = Seq(("en", 1.0), ("zh", 0.95), ("es", 0.9), ("de", 0.85), ("fr", 0.8))
        .toDF("lang", "weight")
      val fact = T.documentsSpread(s, dir)
        .select(col("lang"), col("doc_id"), col("n_chars"))
      graft.ops.SkewJoin.saltedJoin(fact, dim, "lang", col("doc_id"), 8)
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(graft.Qdsl.d2(col("weight")) * col("n_chars")).cast("double")
            .as("weighted_chars"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH dim(lang, weight) AS (VALUES
        ('en', 1.0), ('zh', 0.95), ('es', 0.9), ('de', 0.85), ('fr', 0.8))
      SELECT d.lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        CAST(SUM(CAST(weight AS DECIMAL(18,2)) * n_chars) AS DOUBLE)
          AS weighted_chars
      FROM documents d JOIN dim ON d.lang = dim.lang
      GROUP BY d.lang ORDER BY d.lang""".stripMargin),
    "salted hot-key join in the correctness gate: 8-way salt on a 44%-hot language key, oracle = the PLAIN join — the driver hash-compare proves salting is result-invariant; the plan-level spread is pinned in SkewJoinSpec")

  // ---------------------------------------------------------------------
  // q96 — corpus novelty curve (saturation diagnostic)
  // ---------------------------------------------------------------------

  /** How much genuinely NEW content each ingest batch contributes: per
    * batch (doc_id % 10 stands in for crawl order), the fraction of
    * its distinct 8-grams whose FIRST appearance is that batch — the
    * saturation curve that tells a pipeline when further crawling of a
    * source stops adding information (novelty falling toward the
    * near-dup floor means you are re-crawling, not growing). Gram-level
    * cousin of q68's doc-level incremental dedup.
    *
    * Scale shape: one explode to the distinct (batch, gram) frame,
    * then TWO independent aggregations — per-batch gram counts, and a
    * gram-keyed min-agg whose 10-row regroup by first batch yields the
    * new-gram counts — joined at BATCHES size (10 rows). No gram-keyed
    * join-back: the earlier formulation joined two corpus-gram-sized
    * frames (one extra full shuffle) to compute what a regroup of the
    * min-agg's own output already knows. Grams ride xxhash64 keys
    * through both exchanges (the q98 convention; the string-keyed
    * oracle is the collision audit). The production form — each batch joined
    * against an incremental gram→first_batch state table instead of
    * recomputing history — is registered as [[q98IncrementalNovelty]];
    * CurationOpsSpec pins the two forms equal.
    */
  val q96NoveltyCurve = Q(
    "q96_novelty_curve",
    (s, dir) => {
      // gram → xxhash64 BEFORE the distinct (the q98/q115 convention,
      // actual here, not just promised at scale): the dedup exchange and
      // the min-agg carry (batch, int64) instead of (batch, ~70-byte
      // gram string) — measured 13.6 → ~1.5 MB shuffled at sf0.1. The
      // string-keyed DuckDB oracle is the collision audit: a 64-bit
      // merge would move these counts and flip the gate.
      val g = T.documentsSpread(s, dir)
        .select((col("doc_id") % 10).as("batch"),
          expr(s"filter($toksSql, t -> t <> '')").as("ts"))
        .filter(size(col("ts")) >= 8)
        .select(col("batch"),
          explode(array_distinct(graft.functions.GraftFunctions.ngrams(col("ts"), 8)))
            .as("g"))
        .select(col("batch"), xxhash64(col("g")).as("g"))
        .distinct()
      val perBatch = g.groupBy(col("batch")).agg(count(lit(1)).as("n_grams"))
      val newPerBatch = g.groupBy(col("g")).agg(min(col("batch")).as("batch"))
        .groupBy(col("batch")).agg(count(lit(1)).as("n_new_nn"))
      perBatch.join(newPerBatch, Seq("batch"), "left")
        .select(col("batch"), col("n_grams"),
          coalesce(col("n_new_nn"), lit(0L)).cast("bigint").as("n_new"))
        .select(col("batch"), col("n_grams"), col("n_new"),
          (col("n_new").cast("double") / col("n_grams")).as("novelty_rate"))
        .orderBy(col("batch"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id % 10 AS batch,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      g AS (
        SELECT DISTINCT batch,
          unnest(list_distinct(list_transform(generate_series(1, len(ts) - 7),
            i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
                 ts[i+3] || ' ' || ts[i+4] || ' ' || ts[i+5] || ' ' ||
                 ts[i+6] || ' ' || ts[i+7]))) AS gr
        FROM d WHERE len(ts) >= 8),
      f AS (SELECT gr, MIN(batch) AS first_batch FROM g GROUP BY gr)
      SELECT g.batch, CAST(COUNT(*) AS BIGINT) AS n_grams,
        CAST(SUM(CASE WHEN f.first_batch = g.batch THEN 1 ELSE 0 END)
             AS BIGINT) AS n_new,
        CAST(SUM(CASE WHEN f.first_batch = g.batch THEN 1 ELSE 0 END)
             AS DOUBLE) / COUNT(*) AS novelty_rate
      FROM g JOIN f ON g.gr = f.gr
      GROUP BY g.batch ORDER BY g.batch""".stripMargin),
    "corpus novelty/saturation curve: per ingest batch, the fraction of distinct 8-grams first seen in that batch — distinct (batch,gram) explode, then two aggregations (per-batch counts; gram-keyed first-appearance min regrouped by first batch) joined at 10-row size, no gram-sized join-back; incremental gram->first_batch state at scale")

  // ---------------------------------------------------------------------
  // q98 — incremental gram-state novelty (the q96 production form)
  // ---------------------------------------------------------------------

  /** q96's novelty curve computed the way a production pipeline runs
    * it: batches arrive ONE AT A TIME and join against a persistent
    * gram→first_batch state table — history is never recomputed. Per
    * batch: (1) the batch's distinct grams left-join the state (the
    * membership probe; in production the state is a parquet table
    * BUCKETED on the gram key, so this join is bucket-co-located and
    * shuffles only the new batch); (2) one aggregate reads the probed
    * frame for (n_grams, n_new); (3) the unseen grams APPEND to the
    * state with first_batch = this batch.
    *
    * Append means append: the state is the UNION of per-batch delta
    * frames, each a projection of that batch's one `localCheckpoint`ed
    * probe — so per batch exactly one batch-sized materialization
    * happens (serving both the aggregate and the delta), total
    * materialized bytes stay LINEAR in corpus grams, and lineage stays
    * flat (a union of checkpoint scans, never a 10-deep join tree).
    * The first cut of this query instead rewrote (repartition +
    * checkpoint) the full state every round — quadratic bytes over
    * batches, exactly the anti-pattern the production bucketed-table
    * append avoids; measured 6.5 s → the append form at sf0.1.
    *
    * The state key is `xxhash64(g)` (8 bytes), not the ~70-byte gram
    * string — the q81/q90 gram-key reduction applied to the one
    * repeatedly-shuffled frame here. Distinctness and the per-batch
    * counts stay at GRAM granularity (hashing happens after the
    * (batch, gram) distinct), so only membership lookups ride the
    * hash; the oracle equality with q96 pins that no collision
    * perturbs the answer on the gate data (64-bit: ~1e-9 at 1M grams).
    *
    * The result is a lazy union of ten 1-row aggregates over the
    * checkpointed probes; the oracle is IDENTICAL to q96's (the whole
    * point: incremental ≡ recompute-all-history, which CurationOpsSpec
    * also pins engine-side at a second scale factor).
    */
  val q98IncrementalNovelty = Q(
    "q98_incremental_novelty",
    (s, dir) => {
      import s.implicits._
      // stored up front: the ten per-batch probe stages' scan sides are
      // independent of the state chain, so in the one final job they
      // all launch at once, and each would otherwise derive the
      // explode+distinct itself. Every batch reads the same stored
      // partitions.
      val grams = Stored.checkpoint(T.documentsSpread(s, dir)
        .select((col("doc_id") % 10).as("batch"),
          expr(s"filter($toksSql, t -> t <> '')").as("ts"))
        .filter(size(col("ts")) >= 8)
        .select(col("batch"),
          explode(array_distinct(graft.functions.GraftFunctions.ngrams(col("ts"), 8)))
            .as("g"))
        .distinct()
        .withColumn("gh", xxhash64(col("g")))
        .drop("g")).df
      var state = Seq.empty[(Long, Long)].toDF("gh", "first_batch")
      // Round-12 note: this loop sits at its contract floor. Profiled
      // alternatives both measured SLOWER — shuffle_hash-hinted state
      // with eager checkpoints (4.0 s vs 3.7 s: the explicit state
      // shuffle costs more than AQE's broadcast), and AQE scoped off
      // around the loop (5.0 s: 32-partition shuffles → 1,889 tasks vs
      // 224; AQE's post-shuffle coalescing is what keeps the tiny
      // per-batch stages cheap). The residual wall is ten genuinely
      // sequential probe jobs at ~0.35 s each — the incremental
      // CONTRACT, not plan waste (between-job planning gap measured
      // 0.6 s of 4.4 s after round-11's checkpoint fixes).
      //
      // Rejected experiment (round 22): batching probes in PAIRS —
      // one checkpointed probe job covering batches (2p, 2p+1), with
      // 2p+1's view of 2p's delta resolved in-pair before the
      // checkpoint — halves the sequential rounds 10 → 5 but measured
      // EXACTLY FLAT in a quiet-window A/B at sf0.1 (2.75 vs 2.75 s;
      // contended windows scattered 2.6–4.3 both ways). The per-pair
      // job does the probe join three times (b0 slice, b1 slice, b0's
      // new grams for the in-pair resolve), which cancels the halved
      // round count; a post-checkpoint resolve instead re-executes
      // per later round (measured 80 → 136 jobs). One-at-a-time stays.
      val curves = (0L until 10L).map { b =>
        val probed = grams.filter(col("batch") === b).select(col("gh"))
          .join(state, Seq("gh"), "left")
          .localCheckpoint(eager = false) // the aggregate below materializes it
        // delta-append: a projection of the already-checkpointed probe —
        // no second materialization, no state rewrite.
        state = state.unionByName(
          probed.filter(col("first_batch").isNull)
            .select(col("gh"), lit(b).as("first_batch")))
        probed.agg(
          lit(b).as("batch"),
          count(lit(1)).as("n_grams"),
          coalesce(sum(when(col("first_batch").isNull, 1L).otherwise(0L)), lit(0L))
            .cast("bigint").as("n_new"))
      }
      curves.reduce(_ unionByName _)
        // q96's groupBy emits no row for a batch with zero qualifying
        // docs; the per-batch loop would emit (b, 0, 0, null) — drop it
        // so the two forms stay identical on sparse corpora too.
        .filter(col("n_grams") > 0)
        .select(col("batch"), col("n_grams"), col("n_new"),
          (col("n_new").cast("double") / col("n_grams")).as("novelty_rate"))
        .orderBy(col("batch"))
    },
    q96NoveltyCurve.oracle,
    "incremental novelty: per-batch probe of a persistent gram->first_batch state table (bucket-co-located join at scale), one checkpoint per batch serving both the count aggregate and the state append — identical answer to q96's recompute-all form, same oracle")

  // ---------------------------------------------------------------------
  // q103 — epoch-aware upsampling mixture (the q84 dual)
  // ---------------------------------------------------------------------

  /** The UP-sampling mixture table: q84 equalizes sources by sampling
    * the big ones DOWN; real pretraining mixtures instead repeat small
    * high-value sources for multiple epochs, capped (seeing the same
    * tokens too often hurts, so caps of ~4 epochs are standard
    * practice in published data recipes). Per source: epoch factor =
    * min(cap, ceil(max_tokens / n_tokens)) and the resulting
    * effective token count and mixture share.
    *
    * All arithmetic is exact-integer until the single share division
    * (the object-doc discipline): ceil division is `(a + b - 1) div b`
    * on both engines, so the table is bit-identical cross-engine.
    *
    * Scale shape: one source-keyed agg (map-side combined), a
    * broadcast 1-row max, and a sources-sized projection — nothing
    * corpus-sized past the first agg. The factor column then drives a
    * trivial `explode(sequence(1, factor))` at materialization time,
    * which multiplies ROWS but never shuffles (generation happens
    * above the scan in the writing stage).
    */
  val q103EpochUpsample = Q(
    "q103_epoch_upsample",
    (s, dir) => {
      // a source whose docs are ALL empty-token has nothing to repeat
      // and would divide by zero below (Spark `div` yields null →
      // least() silently picks the cap; DuckDB `//` differs) — drop it
      // before the factor math so the degenerate case is engine-exact
      val per = sourceTokenStats(s, dir).filter(col("n_tokens") > 0)
      val mx = per.agg(max(col("n_tokens")).as("max_tok"))
      val withFactor = per.crossJoin(mx)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          least(lit(4L),
            expr("(max_tok + n_tokens - 1) div n_tokens"))
            .cast("bigint").as("epochs"))
        .withColumn("effective_tokens", col("n_tokens") * col("epochs"))
      val tot = withFactor.agg(sum(col("effective_tokens")).as("tot"))
      withFactor.crossJoin(tot)
        .select(col("source"), col("n_docs"), col("n_tokens"), col("epochs"),
          col("effective_tokens"),
          (col("effective_tokens").cast("double") / col("tot")).as("share"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH d AS (
        SELECT source,
          len(list_filter($oracleToksSql, t -> t <> '')) AS n
        FROM documents),
      p AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM d GROUP BY source
        HAVING SUM(n) > 0),
      f AS (
        SELECT source, n_docs, n_tokens,
          CAST(LEAST(4, (MAX(n_tokens) OVER () + n_tokens - 1) // n_tokens)
            AS BIGINT) AS epochs
        FROM p),
      e AS (
        SELECT *, n_tokens * epochs AS effective_tokens FROM f)
      SELECT source, n_docs, n_tokens, epochs, effective_tokens,
        CAST(effective_tokens AS DOUBLE) / SUM(effective_tokens) OVER ()
          AS share
      FROM e ORDER BY source""".stripMargin),
    "epoch-aware upsampling mixture: per-source repeat factor min(4, ceil(max/n)) with effective tokens and shares — the up-sampling dual of q84's rates; exact-int arithmetic to a single share division, bit-identical cross-engine")

  // ---------------------------------------------------------------------
  // q118 — systematic PPS (probability-proportional-to-size) sampling
  // ---------------------------------------------------------------------

  /** Deterministic weighted corpus subsampling — the integer-exact form
    * of importance sampling. Classical weighted reservoir / A-ES
    * sampling keys on `u^(1/w)` — a transcendental whose last-ulp
    * behavior differs between libm implementations, so it can never be
    * cross-engine exact. Systematic PPS sampling (Madow's method —
    * survey-sampling textbook standard) is its integer-exact dual: lay
    * the documents end-to-end on a 0..Σw character axis in doc_id
    * order, drop a grid of points with stride S = Σw div (N div 10)
    * anchored at S div 2, and select every document whose interval
    * covers ≥1 grid point. Inclusion probability ∝ n_chars (docs longer
    * than S are taken with multiplicity — the `n_hits` weight), the
    * sample size is (Σw − anchor) div S + 1 by construction, and
    * every quantity is integer arithmetic on non-negative operands —
    * truncating and floor division agree, so both engines agree bit
    * for bit.
    *
    * Scale shape: the scan reads TWO int64 columns (doc_id, n_chars —
    * column pruning keeps the text out of the plan); the global
    * prefix sum is [[graft.ops.ShardPacking.withPrefixSum]]'s two-pass
    * block decomposition (block subtotals → tiny offsets window →
    * bounded in-block windows), so no corpus-sized frame ever funnels
    * through one task; the stride is a 1-row broadcast aggregate.
    */
  val q118PpsSample = Q(
    "q118_pps_sample",
    (s, dir) => {
      val d = T.documents(s, dir)
        .select(col("doc_id"), col("n_chars"), lit(0).as("__src"))
      val cum = graft.ops.ShardPacking
        .withPrefixSum(d, "__src", "doc_id", "n_chars", "cum_before")
      val step = d.agg(
        expr("sum(n_chars) div (count(1) div 10)").as("step"))
      cum.join(step)
        .withColumn("n_hits",
          expr("""((cum_before + n_chars - 1 - (step div 2) + step) div step)
                 | - ((cum_before - 1 - (step div 2) + step) div step)""".stripMargin))
        .filter(col("n_hits") >= 1)
        .select(col("doc_id"), col("n_chars"), col("cum_before"),
          col("n_hits"))
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH d AS (SELECT doc_id, n_chars FROM documents),
      t AS (
        SELECT CAST(SUM(n_chars) AS BIGINT) AS tot,
          CAST(COUNT(*) AS BIGINT) AS n FROM d),
      s AS (SELECT tot // (n // 10) AS step FROM t),
      p AS (
        SELECT doc_id, n_chars,
          CAST(COALESCE(SUM(n_chars) OVER (ORDER BY doc_id
            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
            AS BIGINT) AS cum_before
        FROM d),
      h AS (
        SELECT doc_id, n_chars, cum_before,
          ((cum_before + n_chars - 1 - (step // 2) + step) // step)
          - ((cum_before - 1 - (step // 2) + step) // step) AS n_hits
        FROM p CROSS JOIN s)
      SELECT doc_id, n_chars, cum_before, CAST(n_hits AS BIGINT) AS n_hits
      FROM h WHERE n_hits >= 1 ORDER BY doc_id""".stripMargin),
    "systematic PPS sampling (Madow): integer-exact weighted subsampling — grid stride over the two-pass block prefix sum (never a corpus-sized window task), 2-int-column pruned scan, 1-row broadcast stride; the cross-engine-exact dual of transcendental A-ES keys")

  // ---------------------------------------------------------------------
  // q125 — bigram-LM typicality score (the perplexity-filter axis)
  // ---------------------------------------------------------------------

  /** N-gram language-model scoring — the CCNet/Gopher quality axis this
    * registry had only in surface form (q83 scores length/punct/
    * stopword shape; this scores SEQUENCE typicality): per document,
    * the mean fixed-point conditional bigram probability
    * p(w_i | w_{i−1}) = (c(w_{i−1}w_i)·2^20) div c(w_{i−1}) under the
    * corpus's own bigram LM. Low score = improbable token transitions
    * (shuffled/garbage/TEMPLATE-FREE text), the exact signal CCNet
    * thresholds with a wiki-trained KenLM — here the LM is in-corpus
    * (typicality, not reference-domain perplexity; the TRAIN frame is
    * the seam where a curated reference corpus would plug in), and the
    * arithmetic is integer rational end-to-end (the q66/q120
    * convention — q109 measured 1-ulp ln() divergence across libms, so
    * no log-perplexity crosses the engine boundary; mean = one IEEE
    * division of two exact ints).
    *
    * Overflow: c(bigram)·2^20 ≤ c(prefix)·2^20; at 10^12 corpus tokens
    * that is < 2^60 — int64-safe with 3 decades of headroom.
    *
    * Scale shape: LM training = two hash aggs (unigram + bigram counts,
    * map-side combinable, keys are the tokens/pairs themselves);
    * scoring = the exploded (doc, bigram) frame joined against both
    * count tables on 8-byte xxhash64 keys (the oracle joins on the
    * token STRINGS — the hash-vs-string dual is the collision audit),
    * then one doc-keyed agg. Every shuffle is keyed and linear; the
    * count tables stream through an ordinary shuffled join, so a
    * web-scale bigram table (too big to broadcast) changes nothing.
    */
  /** The q125 kernel as a reusable stage (Curate.run's LM gate consumes
    * it): train the bigram LM on `docs` and score each of its rows.
    * Returns (doc_id, n_bigrams, sum_q, lm_score); plan shape on q125. */
  /** The (doc_id, bh, uh) bigram-pair frame q125 scores — factored so
    * the streaming twin's spec can score the same pairs against
    * state-store-accumulated count tables. */
  def lmPairs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // hash BEFORE the store: the stored frame and every shuffle above
    // it carry 8-byte keys, never pair text
    Stored.checkpoint(docs
      .select(col("doc_id"),
        expr(s"filter($toksSql, t -> t <> '')").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"),
        explode(expr(
          "arrays_zip(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1))"))
          .as("pr"))
      .select(col("doc_id"),
        xxhash64(col("pr").getField("0"), col("pr").getField("1")).as("bh"),
        xxhash64(col("pr").getField("0")).as("uh"))).df

  /** q125's scoring arithmetic over PRE-BUILT count tables — shared by
    * [[lmScored]] (tables aggregated from the same corpus) and the
    * streaming twin (tables upserted from Streams.lmCountTracker's
    * state store): the pair frame joins uniCounts (uh, cu) and
    * biCounts (bh, cb) on 8-byte keys, fixed-point
    * q = (cb·2^20) div cu, one doc-keyed agg. */
  def lmScoreJoin(pairs: org.apache.spark.sql.DataFrame,
      uniCounts: org.apache.spark.sql.DataFrame,
      biCounts: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    pairs
      .join(biCounts, "bh")
      .join(uniCounts, "uh")
      .select(col("doc_id"), expr("(cb * 1048576) div cu").as("q"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), sum(col("q")).as("sum_q"))
      .withColumn("lm_score",
        col("sum_q").cast("double") / col("n_bigrams").cast("double"))

  def lmScored(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val pairs = lmPairs(docs)
    // prefix counts over EVERY token occurrence (incl. doc-final —
    // a doc's last token appears in no bigram's 'a' slot)
    val uniCounts = docs
      .select(explode(expr(s"filter($toksSql, t -> t <> '')")).as("w"))
      .groupBy(xxhash64(col("w")).as("uh"))
      .agg(count(lit(1)).as("cu"))
    val biCounts = pairs
      .groupBy(col("bh"))
      .agg(count(lit(1)).as("cb"))
    lmScoreJoin(pairs, uniCounts, biCounts)
  }

  val q125BigramLmScore = Q(
    "q125_bigram_lm_score",
    (s, dir) => lmScored(T.documentsSpread(s, dir)).orderBy(col("doc_id")),
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      p AS (
        SELECT doc_id, ts[i] AS a, ts[i + 1] AS b
        FROM d, UNNEST(generate_series(1, len(ts) - 1)) AS u(i)
        WHERE len(ts) >= 2),
      uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cu
        FROM (SELECT unnest(ts) AS w FROM d) GROUP BY w),
      bi AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cb
        FROM p GROUP BY a, b),
      s AS (
        SELECT p.doc_id, (bi.cb * 1048576) // uni.cu AS q
        FROM p
        JOIN bi ON bi.a = p.a AND bi.b = p.b
        JOIN uni ON uni.w = p.a)
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        CAST(SUM(q) AS BIGINT) AS sum_q,
        CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS lm_score
      FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "bigram-LM typicality scoring (the CCNet perplexity-filter axis, transcendental-free): p(w_i|w_{i-1}) as fixed-point (c_bigram*2^20) div c_prefix under the corpus's own LM, mean = one IEEE division of exact ints; training = two map-side-combinable hash aggs, scoring = hash-keyed joins that stream (web-scale bigram tables need no broadcast)")

  // ---------------------------------------------------------------------
  // q126 — semantic decontamination (embedding-space eval leakage)
  // ---------------------------------------------------------------------

  /** The SEMANTIC complement to q77's lexical decontamination: a
    * paraphrased eval question shares no 5-gram with its source but
    * sits next to it in embedding space — the leakage class n-gram
    * overlap cannot see (the SemDeDup observation applied to the
    * train/eval boundary). Every corpus vector reports its nearest
    * eval-probe and the exact cosine; rows at or above the flag
    * threshold are the decontamination candidates a pipeline drops or
    * audits. On this corpus's random embeddings 0.30 flags the upper
    * tail (41 rows at sf0.01); a real near-paraphrase sits far above
    * any such threshold.
    *
    * Exactness: q34's contract — pinned-order dot fold (the cos_argmax
    * kernel shares the dot handle's fold), argmax with the window's
    * (cos DESC, probe ASC) tie rule — bit-identical to the DuckDB
    * list_reduce oracle.
    *
    * Scale shape: eval probe sets are small by nature → one broadcast;
    * the corpus pass is a single map-side cos_argmax projection — NO
    * corpus-wide exchange at all (round 21; previously a vec-keyed
    * argmax window over corpus×|probes| rows). A probe set too big to
    * broadcast routes through q60's IVF cells first (probe-side
    * routing), plan unchanged below the candidate join.
    */
  /** q126's kernel, factored so the composed pipeline (Curate stage 5b)
    * and the registry query share one implementation: per corpus vector
    * (vec_id >= probeIdBelow), the nearest eval probe (vec_id <
    * probeIdBelow) and its exact cosine. Plan shape (round 21): the
    * probe set rides a 1-row broadcast into a single map-side
    * `cos_argmax` projection over the corpus scan — the previous
    * corpus×probes exploded broadcast join + row_number window paid a
    * corpus×probes exchange+sort for the same per-row argmax (same
    * dot-fold doubles, same (cos DESC, probe_id ASC) tie rule — see
    * VecDistKernels.cosArgmax; the size guard reproduces the inner
    * join's empty-probe-set ⇒ empty-output semantics; non-null
    * vectors are a precondition, the cellMembersPlan account).
    */
  def semanticNearest(emb: org.apache.spark.sql.DataFrame,
      probeIdBelow: Long): org.apache.spark.sql.DataFrame = {
    import graft.functions.GraftFunctions.{dot, cosArgmax}
    val n = emb
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .select(col("vec_id"), col("v"), sqrt(dot(col("v"), col("v"))).as("nrm"))
    val probes = n.filter(col("vec_id") < probeIdBelow)
      .agg(sort_array(collect_list(struct(
        col("vec_id").as("cid"), col("v").as("cv"), col("nrm").as("cn"))))
        .as("ps"))
    n.filter(col("vec_id") >= probeIdBelow)
      .crossJoin(probes)
      .filter(size(col("ps")) > 0)
      .select(col("vec_id"),
        cosArgmax(col("v"), col("nrm"), col("ps")).as("am"))
      .select(col("vec_id"), col("am.cid").as("nearest_probe"),
        col("am.cos").as("cosine"))
  }

  val q126SemanticDecontam = Q(
    "q126_semantic_decontam",
    (s, dir) =>
      semanticNearest(T.embeddings(s, dir), 10L)
        .filter(col("cosine") >= 0.30)
        .orderBy(col("vec_id")),
    Some("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        FROM embeddings),
      n AS (
        SELECT vec_id, v,
          sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) nrm
        FROM e),
      p AS (
        SELECT vec_id AS probe_id, v AS pv, nrm AS pn
        FROM n WHERE vec_id < 10),
      sim AS (
        SELECT n.vec_id, p.probe_id,
          list_reduce(list_transform(generate_series(1, 64),
            i -> n.v[i]*p.pv[i]), (x,y) -> x+y) / (n.nrm*p.pn) AS cos
        FROM n CROSS JOIN p WHERE n.vec_id >= 10),
      best AS (
        SELECT vec_id, probe_id, cos FROM (
          SELECT vec_id, probe_id, cos,
            ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cos DESC, probe_id) rn
          FROM sim) WHERE rn = 1)
      SELECT vec_id, probe_id AS nearest_probe, cos AS cosine
      FROM best WHERE cos >= 0.30 ORDER BY vec_id""".stripMargin),
    "semantic decontamination: nearest eval-probe cosine per corpus vector, flagged at the threshold — the embedding-space complement to q77's 5-gram pass (paraphrased leakage has no shared n-gram); broadcast probe set, map-side pinned dot folds, one vec-keyed argmax exchange")

  // ---------------------------------------------------------------------
  // q135 — importance-contrast filter (the DSIR axis, transcendental-free)
  // ---------------------------------------------------------------------

  /** Data selection by importance contrast (the DSIR shape — Xie et
    * al. 2023, "Data Selection for Language Models via Importance
    * Resampling": select raw docs whose n-gram statistics look like a
    * TARGET domain rather than like the raw pool). q125 scores
    * typicality under ONE LM; this trains the same fixed-point bigram
    * LM twice — on the target slice (here `lang = 'en'`; the filter is
    * the seam where a curated reference corpus plugs in) and on the
    * full corpus — and scores every doc by the exact contrast
    * Σ(q_target − q_general) / n_bigrams. Positive contrast = the
    * doc's token transitions are MORE probable under the target LM
    * than under the pool's own LM — DSIR's log-ratio importance
    * weight, rendered transcendental-free: each conditional
    * probability is the q125 fixed-point rational (c_bigram·2^20) div
    * c_prefix, the per-doc sums stay exact int64, and the only IEEE
    * operation is the final division (identical on both engines). A
    * bigram whose prefix never occurs in the target slice contributes
    * q_target = 0 — the honest unsmoothed semantics (DuckDB re-derives
    * the same rule; no Laplace constant to disagree on).
    *
    * Overflow: per-doc Σq ≤ n_bigrams·2^20 < 2^60 at 10^12 corpus
    * tokens (q125's bound); the contrast difference of two such sums
    * stays in int64 trivially.
    *
    * Scale shape: the target slice is a FILTER of the corpus, so both
    * LMs train in the SAME single pass — one token agg and one pair
    * agg, each keyed on the 8-byte hash and map-side combinable,
    * carrying (count_general, count_target) side by side (the
    * round-16 duplicate-subplan lesson applied at design time: two
    * corpus scans fold into one conditional aggregation). Scoring =
    * the checkpointed pair frame joined to both count tables on
    * 8-byte keys (the oracle joins token STRINGS — q125's
    * hash-vs-string collision-audit dual), then one doc-keyed agg.
    * Every shuffle is keyed and linear; nothing is broadcast that
    * grows with the corpus, so a web-scale bigram table streams
    * through an ordinary shuffled join exactly as in q125.
    */
  /** q135's pair frame: q125's [[lmPairs]] carrying an is-target flag
    * per occurrence, so ONE aggregation yields both LMs' bigram
    * counts. Hashes before the checkpoint (8-byte keys, never text).
    */
  private[graft] def lmPairsTagged(docs: org.apache.spark.sql.DataFrame,
      isTarget: org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame =
    Stored.checkpoint(docs
      .select(col("doc_id"), isTarget.as("tgt"),
        expr(s"filter($toksSql, t -> t <> '')").as("ts"))
      .filter(size(col("ts")) >= 2)
      .select(col("doc_id"), col("tgt"),
        explode(expr(
          "arrays_zip(slice(ts, 1, size(ts) - 1), slice(ts, 2, size(ts) - 1))"))
          .as("pr"))
      .select(col("doc_id"), col("tgt"),
        xxhash64(col("pr").getField("0"), col("pr").getField("1")).as("bh"),
        xxhash64(col("pr").getField("0")).as("uh"))).df

  /** The q135 kernel over an arbitrary target predicate — factored so
    * the spec can pin the identity target ⇒ contrast ≡ 0 property and
    * the general side's equivalence with q125, and so a composed
    * pipeline can plug a real curated-reference membership column in.
    */
  private[graft] def dsirContrast(docs: org.apache.spark.sql.DataFrame,
      isTarget: org.apache.spark.sql.Column)
      : org.apache.spark.sql.DataFrame = {
    val pairs = lmPairsTagged(docs, isTarget)
    // both LMs' prefix counts in ONE conditional agg (every token
    // occurrence, incl. doc-final — the q125 prefix convention)
    val uni = docs
      .select(isTarget.as("tgt"),
        explode(expr(s"filter($toksSql, t -> t <> '')")).as("w"))
      .groupBy(xxhash64(col("w")).as("uh"))
      .agg(count(lit(1)).as("cu_g"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("cu_t"))
    val bi = pairs
      .groupBy(col("bh"))
      .agg(count(lit(1)).as("cb_g"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("cb_t"))
    pairs
      .join(bi, "bh")
      .join(uni, "uh")
      .select(col("doc_id"),
        expr("(cb_g * 1048576) div cu_g").as("qg"),
        expr("case when cu_t > 0 then (cb_t * 1048576) div cu_t else 0 end")
          .as("qt"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"),
        sum(col("qt")).as("sum_qt"), sum(col("qg")).as("sum_qg"))
      .withColumn("contrast",
        (col("sum_qt") - col("sum_qg")).cast("double") /
          col("n_bigrams").cast("double"))
      .withColumn("kept",
        when(col("sum_qt") > col("sum_qg"), 1L).otherwise(0L))
      .orderBy(col("doc_id"))
  }

  val q135DsirContrast = Q(
    "q135_dsir_contrast",
    (s, dir) => dsirContrast(T.documentsSpread(s, dir), col("lang") === "en"),
    Some(s"""
      WITH d AS (
        SELECT doc_id, lang,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      p AS (
        SELECT doc_id, (lang = 'en') AS tgt, ts[i] AS a, ts[i + 1] AS b
        FROM d, UNNEST(generate_series(1, len(ts) - 1)) AS u(i)
        WHERE len(ts) >= 2),
      uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cu_g,
          CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS cu_t
        FROM (SELECT (lang = 'en') AS tgt, unnest(ts) AS w FROM d)
        GROUP BY w),
      bi AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cb_g,
          CAST(SUM(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS cb_t
        FROM p GROUP BY a, b),
      s AS (
        SELECT p.doc_id,
          (bi.cb_g * 1048576) // uni.cu_g AS qg,
          CASE WHEN uni.cu_t > 0 THEN (bi.cb_t * 1048576) // uni.cu_t
               ELSE 0 END AS qt
        FROM p
        JOIN bi ON bi.a = p.a AND bi.b = p.b
        JOIN uni ON uni.w = p.a)
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        CAST(SUM(qt) AS BIGINT) AS sum_qt,
        CAST(SUM(qg) AS BIGINT) AS sum_qg,
        CAST(SUM(qt) - SUM(qg) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
          AS contrast,
        CAST(CASE WHEN SUM(qt) > SUM(qg) THEN 1 ELSE 0 END AS BIGINT) AS kept
      FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "importance-contrast data selection (the DSIR axis, transcendental-free): q125's fixed-point bigram LM trained on a target slice AND the full pool in ONE conditional aggregation pass, per-doc contrast = exact-int (sum_q_target - sum_q_general) / n_bigrams with unsmoothed q_target=0 for target-unseen prefixes; scoring joins stream on 8-byte hashed keys (oracle joins strings - the collision-audit dual)")

  // ---------------------------------------------------------------------
  // q136 — temperature-scaled source mixture (α = 1/2, exact isqrt)
  // ---------------------------------------------------------------------

  /** Temperature-smoothed mixture weights: sampling share ∝
    * n_tokens^α with α = 1/2 — the multilingual-LM standard for
    * keeping low-resource sources from vanishing while capping
    * high-resource dominance (exponent-smoothed sampling as in XLM /
    * multilingual BERT; α=1 is natural sharing, α→0 uniform; q84's
    * equalizing rates are the opposite extreme of the same family).
    * n^(1/2) is the one temperature in the family that is EXACT in
    * integers: w_s = isqrt(n_tokens_s), computed as floor(√n) from
    * the IEEE double sqrt and then corrected against the two integer
    * neighbours — (w+1)² ≤ n → w+1, w² > n → w−1 — so the result is
    * the true integer square root on BOTH engines regardless of
    * float rounding (exactly the q86 exact-int-rule discipline; n <
    * 2^52 keeps the double within ±1 of truth, and 100 TB of text is
    * ~2^44 tokens). Shares and the boost-over-natural ratio are IEEE
    * divisions of exact ints — identical cross-engine.
    *
    * Scale shape: rides [[sourceTokenStats]] (ONE map-side-combinable
    * source-keyed agg — the corpus is touched once); everything after
    * operates on the sources-sized frame, with the global totals
    * joined back by q84's broadcast idiom (no unpartitioned window —
    * the registry plan sweep bans single-task global frames). The
    * weight table then drives q93's reproducible hash filter
    * unchanged.
    */
  /** Exact integer square root of a non-negative BIGINT column: the
    * IEEE double sqrt's floor, corrected against both integer
    * neighbours — exact for n < 2^52 on any engine whose sqrt is
    * within 1 ulp (IEEE-754 requires correctly-rounded sqrt, so the
    * correction is belt-and-braces against the double CAST of n, which
    * is itself exact below 2^53). Factored for the q136 spec's
    * brute-force sweep.
    */
  private[graft] def isqrt(n: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column = {
    val v0 = floor(sqrt(n.cast("double"))).cast("bigint")
    when((v0 + 1) * (v0 + 1) <= n, v0 + 1)
      .when(v0 * v0 > n, v0 - 1)
      .otherwise(v0)
  }

  val q136TemperatureMix = Q(
    "q136_temperature_mix",
    (s, dir) => {
      // q84's totals-row idiom, not a global window: the registry-wide
      // plan sweep (PlanAuditSpec) bans unpartitioned windows without a
      // structural bound.
      // per fans into BOTH the totals agg and the crossJoin: storing it
      // (a sources-sized frame — trivially cheap) is what makes the
      // "corpus touched once" claim structural rather than a bet on
      // Catalyst exchange reuse (the standing duplicate-subplan account)
      val per = Stored.checkpoint(sourceTokenStats(s, dir)
        .select(col("source"), col("n_docs"), col("n_tokens"),
          isqrt(col("n_tokens")).as("w_sqrt"))).df
      val tot = per.agg(sum(col("w_sqrt")).as("tot_w"),
        sum(col("n_tokens")).as("tot_n"))
      per.crossJoin(tot)
        .withColumn("share_alpha",
          col("w_sqrt").cast("double") / col("tot_w").cast("double"))
        .withColumn("share_natural",
          col("n_tokens").cast("double") / col("tot_n").cast("double"))
        .withColumn("boost", col("share_alpha") / col("share_natural"))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("w_sqrt"),
          col("share_alpha"), col("share_natural"), col("boost"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH d AS (
        SELECT source,
          len(list_filter($oracleToksSql, t -> t <> '')) AS n
        FROM documents),
      p AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n) AS BIGINT) AS n_tokens
        FROM d GROUP BY source),
      v AS (
        SELECT *, CAST(FLOOR(SQRT(CAST(n_tokens AS DOUBLE))) AS BIGINT) AS v0
        FROM p),
      w AS (
        SELECT source, n_docs, n_tokens,
          CASE WHEN (v0 + 1) * (v0 + 1) <= n_tokens THEN v0 + 1
               WHEN v0 * v0 > n_tokens THEN v0 - 1
               ELSE v0 END AS w_sqrt
        FROM v),
      t AS (
        SELECT *, SUM(w_sqrt) OVER () AS tot_w, SUM(n_tokens) OVER () AS tot_n
        FROM w)
      SELECT source, n_docs, n_tokens, w_sqrt,
        CAST(w_sqrt AS DOUBLE) / CAST(tot_w AS DOUBLE) AS share_alpha,
        CAST(n_tokens AS DOUBLE) / CAST(tot_n AS DOUBLE) AS share_natural,
        (CAST(w_sqrt AS DOUBLE) / CAST(tot_w AS DOUBLE)) /
          (CAST(n_tokens AS DOUBLE) / CAST(tot_n AS DOUBLE)) AS boost
      FROM t ORDER BY source""".stripMargin),
    "temperature-scaled source mixture (alpha=1/2, the XLM exponent-smoothing standard): sampling weight = exact integer sqrt of per-source token count (IEEE-sqrt floor corrected against both integer neighbours - true isqrt on both engines), shares and boost-over-natural are IEEE divisions of exact ints; one corpus scan via the shared sourceTokenStats agg, all downstream work sources-sized")

  // ---------------------------------------------------------------------
  // q139 — mutual-kNN graph clustering (embedding communities)
  // ---------------------------------------------------------------------

  /** Mutual-kNN graph clustering — the community structure a curation
    * pipeline builds when THRESHOLD dedup (q87's cosine ≥ t) is the
    * wrong tool: mutual filtering keeps an edge only when each vector
    * is in the OTHER's k-nearest list, which deletes hub edges (a
    * generic vector near everything) without any threshold to tune —
    * the standard robustification of kNN graphs before community
    * detection. Edges feed star-contraction connected components
    * (ops.ConnectedComponents.largeStarSmallStar, the one CC
    * primitive); output is every vector's cluster and size
    * (singleton = own id), q134's shape.
    *
    * Scale shape: candidate generation is q87's within-cell pair join
    * through the factored [[cellMembers]] seam (O(Σ cell²), never
    * O(n²); K scales ~√n); the kNN cut is one within-source rank
    * window over the cell-bounded candidate frame (a TopKAggregator
    * conversion was measured SLOWER at the decade — see the inline
    * rejected-experiment note); the knn list is
    * ≤ k·N rows (checkpointed at its self-join fan-out), mutual edges
    * ≤ k·N/2, and the CC label frame is edge-graph-sized. The final
    * membership join is corpus-keyed and linear; the label side is
    * left un-hinted — it is PROVABLY ≤ N rows but can approach it on
    * a pathological corpus, so AQE's runtime stats decide broadcast
    * (q112's and q134's rule).
    *
    * Cross-engine exactness: cosines are the sequenced-fold doubles
    * (bit-identical), ranks break ties on (cos DESC, neighbor id),
    * and the mutual/CC algebra is pure integer — the oracle re-derives
    * assignment, kNN, mutuality, and transitive closure independently.
    */
  /** The cell size above which [[withinCellPairCos]] salts a cell:
    * far above any gate-SF cell, so only a real mega-cell engages it. */
  private[graft] val cellPairCap = 4096

  /** All unordered within-cell pairs of a membership frame
    * (vec_id, cent_id, v, nrm) with their exact cosine, SKEW-GUARDED
    * (guide §2.5): the plain `cent_id`-keyed self-join puts
    * an entire cell's O(cell²) pair space in ONE task — fine while
    * K ~ √n keeps cells bounded, but one mega-cell (a boilerplate
    * embedding cluster) turns that task quadratic at 100 TB. Cells
    * larger than `cap` are therefore salted into ns = ⌈cn/cap⌉
    * hash-buckets and their pair space is covered by the triangle
    * split: an INTRA join keyed (cent_id, bucket) for same-bucket
    * pairs, plus a CROSS join keyed (cent_id, bi, bj) over the
    * per-cell bucket-pair index for cross-bucket pairs — every join
    * task is bounded at ~cap² pairs regardless of cell size.
    *
    * Result-identity argument: each unordered pair {x, y} of a cell
    * is emitted EXACTLY ONCE — cold cell: `vec_id <` picks one side;
    * hot cell, same bucket: intra branch, `vec_id <`; hot cell,
    * buckets k ≠ l: exactly one index row (bi, bj) = (min, max), x
    * drawn from the a-side iff bucket(x) = bi — and the cosine is the
    * SAME expression over the same vectors, so values are bitwise
    * identical. A cross-branch pair may surface as (va, vb) with
    * va > vb; the single consumer symmetrizes every pair into both
    * directions before any ordering matters (WithinCellPairsSpec pins
    * salted ≡ naive on a planted mega-cell). `cap` bounds per-task
    * flops at cap²/2; q139/q140 pass [[cellPairCap]]. The guard
    * ENGAGES ADAPTIVELY: a cells-sized size probe decides, and with no
    * hot cell the plan is the plain join plus only that probe.
    */
  private[graft] def withinCellPairCos(m: org.apache.spark.sql.DataFrame,
      cap: Int): org.apache.spark.sql.DataFrame = {
    import graft.functions.GraftFunctions.dot
    def cosOf = (dot(col("a.v"), col("b.v")) / (col("a.nrm") * col("b.nrm")))
      .as("cos")
    val sizes = m.groupBy(col("cent_id")).agg(count(lit(1)).as("cn"))
    // Adaptive engage (the AQE-skew-join discipline, decided on cell
    // sizes AQE cannot see): the triangle split costs real fixed
    // overhead when every cell is cold — one sizes broadcast plus two
    // empty-branch AQE stage rounds, measured +0.35–0.45 s EACH on
    // q139/q140 at sf0.1 where no mega-cell exists — so probe the
    // (checkpointed, cells-sized) size frame first and keep the plain
    // join when nothing is hot. Same pair set either way
    // (WithinCellPairsSpec pins both arms against the naive join).
    val hotExists = !sizes.filter(col("cn") > cap).isEmpty
    if (!hotExists) {
      return m.as("a").join(m.as("b"),
          col("a.cent_id") === col("b.cent_id") &&
            col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), cosOf)
    }
    val mm = m.join(sizes, "cent_id")
    val cold = mm.filter(col("cn") <= cap)
    val coldPairs = cold.as("a").join(cold.as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), cosOf)
    val hot = mm.filter(col("cn") > cap)
      .withColumn("bk",
        pmod(xxhash64(col("vec_id")),
          ceil(col("cn").cast("double") / cap).cast("long")).cast("int"))
    val intra = hot.as("a").join(hot.as("b"),
        col("a.cent_id") === col("b.cent_id") && col("a.bk") === col("b.bk") &&
          col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), cosOf)
    // per-hot-cell bucket-pair index {(bi, bj) : 0 ≤ bi < bj < ns} —
    // ns(ns−1)/2 rows per hot cell, broadcastable
    val bp = sizes.filter(col("cn") > cap)
      .select(col("cent_id"),
        ceil(col("cn").cast("double") / cap).cast("int").as("ns"))
      .select(col("cent_id"), explode(expr(
        """flatten(transform(sequence(0, ns - 2),
          |  i -> transform(sequence(i + 1, ns - 1),
          |    j -> named_struct('bi', i, 'bj', j))))""".stripMargin)).as("p"))
      .select(col("cent_id"), col("p.bi").as("bi"), col("p.bj").as("bj"))
    def taggedSide(bucketCol: String) = hot.as("h")
      .join(bp.as("p"),
        col("h.cent_id") === col("p.cent_id") &&
          col("h.bk") === col(s"p.$bucketCol"))
      .select(col("h.vec_id").as("vec_id"), col("h.v").as("v"),
        col("h.nrm").as("nrm"), col("h.cent_id").as("cent_id"),
        col("p.bi").as("bi"), col("p.bj").as("bj"))
    val cross = taggedSide("bi").as("a").join(taggedSide("bj").as("b"),
        col("a.cent_id") === col("b.cent_id") &&
          col("a.bi") === col("b.bi") && col("a.bj") === col("b.bj"))
      .select(col("a.vec_id").as("va"), col("b.vec_id").as("vb"), cosOf)
    coldPairs.unionByName(intra).unionByName(cross)
  }

  /** q139's full membership frame (vec_id, cluster_id, n_members),
    * unordered — factored so q140's cluster-quota sampler consumes
    * the SAME communities the q139 oracle checks (one implementation,
    * one verified clustering). */
  private[graft] def mutualKnnMembers(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
      // cellMembers checkpoints internally — the frame arrives
      // materialized for the pair-join fan-out, no second pin needed
      val m = cellMembers(s, dir)
      // Each unordered within-cell pair is joined ONCE (vec_id <, not
      // ≠) and its cosine mirrored into both directions by a 2-way
      // explode (round 21, guide §1.2 "don't compute things you throw
      // away"): the ≠ form matched every pair twice and re-ran the
      // dim-length dot fold per direction — at scale the candidate
      // cosine kernel is this query's dominant flops, and half of
      // them were recomputing the commutative other half. Bitwise
      // identical: a_i·b_i = b_i·a_i per IEEE multiply and the fold
      // order over dims is unchanged, so the mirrored cos is the
      // exact double the ≠ form computed. The cosine is projected
      // BELOW the explode so it is evaluated once per pair, not once
      // per emitted direction; row count into the kNN window exchange
      // is identical to the ≠ form's. Round 22: pair generation goes
      // through the skew-guarded [[withinCellPairCos]] (mega-cell
      // salting; identical pair set, see its proof).
      val half = withinCellPairCos(m, cellPairCap)
      // The kNN cut stays the row_number WINDOW deliberately (round
      // 21, rejected experiment): a TopKAggregator(3) conversion —
      // q51's bounded map-side partial — measured 9.86 → 11.68 s at
      // sf1 (same window, paired) even with the O(1) buffer
      // fast-reject, because the within-cell candidate frame is
      // multi-million rows of 24 B each: the typed udaf pays an
      // object-path cost PER ROW (InternalRow → case class + Seq
      // buffer) that far exceeds what the unsafe-sort window pays, and
      // the window's shuffle of such narrow rows is byte-cheap. The
      // aggregator form wins only on corpus×queries frames whose rows
      // are wide (q108: vectors stripped before the exchange) or where
      // no other exchange exists to piggyback (q34/q43/q119).
      // knn fans into both sides of the mutuality join.
      val wK = Window.partitionBy(col("src"))
        .orderBy(col("cos").desc, col("nb"))
      val knn = Stored.checkpoint(half
        .select(explode(array(
            struct(col("va").as("src"), col("vb").as("nb"), col("cos")),
            struct(col("vb").as("src"), col("va").as("nb"), col("cos"))))
          .as("e"))
        .select(col("e.src").as("src"), col("e.nb").as("nb"),
          col("e.cos").as("cos"))
        .withColumn("rk", row_number().over(wK)).filter(col("rk") <= 3)
        .select(col("src"), col("nb"))).df
      val mutual = knn.as("k1").join(knn.as("k2"),
          col("k2.src") === col("k1.nb") && col("k2.nb") === col("k1.src") &&
            col("k1.src") < col("k1.nb"))
        .select(col("k1.src").as("id_a"), col("k1.nb").as("id_b"))
      // a mutual-kNN graph on a real corpus is CHAIN-shaped (each
      // vector keeps ≤k partners, so components are long paths, not
      // dense cliques): star contraction's O(log n) rounds do not grow
      // with that diameter.
      val labels = graft.ops.ConnectedComponents.largeStarSmallStar(mutual)
      val sized = labels.join(
          labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_members")), "lbl")
        .select(col("v").as("vec_id"), col("lbl"), col("n_members"))
      T.embeddings(s, dir).select(col("vec_id"))
        .join(sized, Seq("vec_id"), "left")
        .select(col("vec_id"),
          coalesce(col("lbl"), col("vec_id")).as("cluster_id"),
          coalesce(col("n_members"), lit(1L)).as("n_members"))
  }

  /** The q139 oracle's CTE chain up to per-cluster labels `lbl` and
    * sizes `cs` — shared verbatim by q140's oracle so both engines
    * re-derive the SAME communities. */
  private val mutualKnnOracleCtes = """
      WITH RECURSIVE e0 AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        FROM embeddings),
      n AS (
        SELECT vec_id, v,
          sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) nrm
        FROM e0),
      c AS (
        SELECT vec_id AS cent_id, v AS cv, nrm AS cn
        FROM n WHERE vec_id BETWEEN 100 AND 115),
      sim AS (
        SELECT n.vec_id, c.cent_id,
          list_reduce(list_transform(generate_series(1, len(n.v)),
            i -> n.v[i]*c.cv[i]), (x,y) -> x+y) / (n.nrm*c.cn) AS cos
        FROM n, c),
      assign AS (
        SELECT vec_id, cent_id FROM (
          SELECT vec_id, cent_id,
            ROW_NUMBER() OVER (PARTITION BY vec_id
                               ORDER BY cos DESC, cent_id) rn
          FROM sim) WHERE rn = 1),
      m AS (
        SELECT a.vec_id, a.cent_id, n.v, n.nrm
        FROM assign a JOIN n USING (vec_id)),
      knn AS (
        SELECT src, nb FROM (
          SELECT a.vec_id AS src, b.vec_id AS nb,
            ROW_NUMBER() OVER (PARTITION BY a.vec_id ORDER BY
              list_reduce(list_transform(generate_series(1, len(a.v)),
                i -> a.v[i]*b.v[i]), (x,y) -> x+y) / (a.nrm*b.nrm) DESC,
              b.vec_id) AS rk
          FROM m a JOIN m b
            ON a.cent_id = b.cent_id AND a.vec_id <> b.vec_id) r
        WHERE rk <= 3),
      mutual AS (
        SELECT k1.src AS id_a, k1.nb AS id_b
        FROM knn k1 JOIN knn k2
          ON k2.src = k1.nb AND k2.nb = k1.src
        WHERE k1.src < k1.nb),
      ed AS (
        SELECT id_a AS v, id_b AS u FROM mutual
        UNION ALL SELECT id_b, id_a FROM mutual),
      reach(v, u) AS (
        SELECT v, u FROM ed
        UNION
        SELECT r.v, ed.u FROM reach r JOIN ed ON ed.v = r.u),
      lbl AS (
        SELECT v, LEAST(v, MIN(u)) AS lbl FROM reach GROUP BY v),
      cs AS (SELECT lbl, COUNT(*) AS n FROM lbl GROUP BY lbl)""".stripMargin

  val q139MutualKnnClusters = Q(
    "q139_mutual_knn_clusters",
    (s, dir) => mutualKnnMembers(s, dir).orderBy(col("vec_id")),
    Some(mutualKnnOracleCtes + """
      SELECT emb.vec_id,
        COALESCE(l.lbl, emb.vec_id) AS cluster_id,
        CAST(COALESCE(cs.n, 1) AS BIGINT) AS n_members
      FROM embeddings emb
      LEFT JOIN lbl l ON l.v = emb.vec_id
      LEFT JOIN cs ON cs.lbl = l.lbl
      ORDER BY emb.vec_id""".stripMargin),
    "mutual-kNN graph clustering: q87's cell-bounded candidate join (factored cellMembers seam) -> per-vector top-3 by sequenced-fold cosine -> keep edges IN BOTH kNN lists (hub edges die without a threshold dial) -> star-contraction CC (largeStarSmallStar, O(log n) rounds on chain-shaped mutual-kNN components) -> every vector's cluster + size; knn list <= k*N checkpointed at its self-join fan-out, label join linear and AQE-decided")

  // ---------------------------------------------------------------------
  // q140 — cluster-aware diversity sampling (per-cluster √-quotas)
  // ---------------------------------------------------------------------

  /** Cluster-aware sampling — the SemDeDup/cluster-balancing shape:
    * instead of deduplicating inside embedding communities (q87) or
    * deleting whole near-dup clusters, keep a per-cluster QUOTA
    * ∝ |cluster|^α so dense regions of embedding space are flattened
    * while singletons always survive — diversity-preserving selection
    * at corpus scale. α = 1/2 is the one exponent exact in integers
    * (q136's isqrt — kept rows per cluster = isqrt(n_members), so a
    * 100-member community keeps 10 and a singleton keeps 1), and the
    * WHICH-members choice is q93's reproducible-hash discipline:
    * rank members by (md5-slice(vec_id), vec_id) and keep the first
    * quota — deterministic, seedless, engine-exact.
    *
    * Composes the two round-18 seams: [[mutualKnnMembers]] (q139's
    * verified communities) supplies the clusters; [[isqrt]] (q136's
    * exact integer square root) supplies the quota. This is the
    * sampling twin of q112's cluster-safe split: q112 keeps whole
    * clusters on one side of a leakage boundary, q140 thins each
    * cluster to its √-quota.
    *
    * Scale shape: everything after q139's documented pipeline is
    * membership-frame-sized (one row per vector). The in-cluster rank
    * runs through ops.BlockRanks — row_number semantics with p-way
    * parallelism even on a pathological giant community (the q44/q128
    * hot-block valve; the plain-window fast path engages below 32k
    * rows, selected by a cheap parquet count). No corpus-sized frame
    * is broadcast or single-task-sorted.
    *
    * Cross-engine exactness: quota is the exact isqrt; the rank key
    * is the md5-hex-slice integer (the q93 conv idiom ≡ DuckDB's
    * ('0x' || substr)::BIGINT); ties break on vec_id. All integer
    * algebra downstream of q139's already-exact membership frame.
    */
  /** q140's full ranked/quota frame — EVERY vector with its in-cluster
    * reproducible-hash rank and isqrt quota, kept and rejected rows
    * alike. Factored so the Curate pipeline's ClusterQuota sampling
    * policy consumes the REJECTED side (`rk > quota`) of exactly the
    * selection q140's oracle proves, the way stage 1 consumes
    * [[sourceDeciles]]. */
  private[graft] def clusterQuotaRanked(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val members = mutualKnnMembers(s, dir)
      .withColumn("hv",
        expr("cast(conv(substring(md5(cast(vec_id as string)), 1, 8), 16, 10) as bigint)"))
    // vector count lets the sub-32k case skip BlockRanks' three extra
    // stages
    val nVecs = graft.queries.PipelineOps.embeddingCount(s, dir)
    graft.ops.BlockRanks.withBlockRank(
        members, "cluster_id", Seq(col("hv"), col("vec_id")), "rk",
        knownRows = nVecs)
      .withColumn("quota", isqrt(col("n_members")))
  }

  val q140ClusterQuotaSample = Q(
    "q140_cluster_quota_sample",
    (s, dir) =>
      clusterQuotaRanked(s, dir)
        .filter(col("rk") <= col("quota"))
        .select(col("vec_id"), col("cluster_id"), col("n_members"),
          col("quota"), col("rk"))
        .orderBy(col("vec_id")),
    Some(mutualKnnOracleCtes + """,
      mem AS (
        SELECT emb.vec_id,
          COALESCE(l.lbl, emb.vec_id) AS cluster_id,
          CAST(COALESCE(cs.n, 1) AS BIGINT) AS n_members
        FROM embeddings emb
        LEFT JOIN lbl l ON l.v = emb.vec_id
        LEFT JOIN cs ON cs.lbl = l.lbl),
      hashed AS (
        SELECT *,
          ('0x' || substr(md5(CAST(vec_id AS VARCHAR)), 1, 8))::BIGINT AS hv
        FROM mem),
      ranked AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY cluster_id
                                          ORDER BY hv, vec_id) AS BIGINT) AS rk
        FROM hashed),
      quotas AS (
        SELECT *,
          CASE WHEN (v0 + 1) * (v0 + 1) <= n_members THEN v0 + 1
               WHEN v0 * v0 > n_members THEN v0 - 1
               ELSE v0 END AS quota
        FROM (SELECT *,
                CAST(FLOOR(SQRT(CAST(n_members AS DOUBLE))) AS BIGINT) AS v0
              FROM ranked))
      SELECT vec_id, cluster_id, n_members, quota, rk
      FROM quotas WHERE rk <= quota
      ORDER BY vec_id""".stripMargin),
    "cluster-aware diversity sampling (SemDeDup/cluster-balancing shape): q139's verified mutual-kNN communities thinned to a per-cluster quota = isqrt(n_members) (alpha=1/2, the exact-integer temperature - q136's isqrt at cluster granularity; singletons always survive), members chosen by q93's reproducible md5-slice rank through ops.BlockRanks (p-way rank even on a pathological giant community); the sampling twin of q112's cluster-safe split, everything past q139 membership-frame-sized")

  // ---------------------------------------------------------------------
  // q141 — per-source quality calibration (CCNet quantile buckets)
  // ---------------------------------------------------------------------

  /** Per-source quality CALIBRATION — the CCNet head/middle/tail move
    * generalized to deciles: a single global threshold on a quality
    * score silently empties sources whose scores run systematically
    * low (exactly the failure Curate's LM gate hit on the sf1 replica
    * — its quantile cut exists for the same reason), so each doc is
    * bucketed by its quality QUANTILE WITHIN ITS SOURCE, and any
    * downstream policy thresholds on the bucket, uniformly fair
    * across heterogeneous domains.
    *
    * Cross-engine exactness: q83's float score is replaced by its
    * exact fixed-point twin (the q125 discipline) — the linear scorer
    * 1.2·stop − 3·punct − 2·upper over the integer features has
    * common denominator 10·n_toks·n_chars, so
    * s_fp = (num + 5·den)·2^20 div den with num =
    * 12·n_stop·n_chars − 30·n_punct·n_toks − 20·n_upper·n_toks:
    * the +5 offset keeps the numerator non-negative (score > −5 by
    * construction since ratios ≤ 1), so truncating and flooring
    * division agree and the quotient is engine-exact. Evaluated in
    * decimal(38,0) (num·2^20 can reach ~2^75 on a 10^8-char doc —
    * past int64, nowhere near decimal38); DuckDB runs the same
    * algebra in HUGEINT. Ranks break ties on doc_id; the decile is
    * ((rk−1)·10) div n_docs — all int64.
    *
    * Scale shape: one feature scan (q83's), one narrow (doc_id,
    * source) join, the per-source rank through ops.BlockRanks (p-way
    * even on one giant source — 'en' at 44% is the standing hot key),
    * and a broadcast sources-sized count join. Nothing corpus-sized
    * is windowed in one task or broadcast.
    */
  /** q141's full calibration frame (doc_id, source, s_fp, rk, decile),
    * unordered, over docs with doc_id ≥ `minDocId` — factored so
    * Curate's stage-1 SourceDeciles policy computes quantiles on
    * exactly the corpus that enters the pipeline (eval docs excluded —
    * they must not shift the cut). */
  private[graft] def sourceDeciles(s: org.apache.spark.sql.SparkSession,
      dir: String, minDocId: Long = Long.MinValue)
      : org.apache.spark.sql.DataFrame = {
      val sfp = qualityFixedPoint(s, dir).filter(col("doc_id") >= minDocId)
      val j = sfp.join(
        T.documents(s, dir).select(col("doc_id"), col("source")), "doc_id")
      // the ranked frame fans into the count agg AND the final join —
      // store the fan-out (the corpus-narrow 4-column frame) so the
      // feature scan runs once on EITHER BlockRanks path (without it
      // the scan subtree appeared twice, the count branch re-deriving
      // from the pre-rank frame)
      val ranked = Stored.checkpoint(graft.ops.BlockRanks.withBlockRank(
        j, "source", Seq(col("s_fp").desc, col("doc_id")), "rk",
        knownRows = graft.queries.PipelineOps.nonEmptyDocCount(s, dir))).df
      val perSrc = ranked.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      ranked.join(perSrc, "source")
        .select(col("doc_id"), col("source"), col("s_fp"), col("rk"),
          expr("(rk - 1) * 10 div n_docs").as("decile"))
  }

  val q141QualityCalibrate = Q(
    "q141_quality_calibrate",
    (s, dir) => sourceDeciles(s, dir).orderBy(col("doc_id")),
    Some(s"""
      WITH f AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
          CAST(len(list_filter($oracleToksSql, t -> t <> ''))
               AS BIGINT) AS n_toks,
          CAST(len(list_filter($oracleToksSql,
            t -> list_contains(['the','a','of','and','to','in','is','was'], t)))
               AS BIGINT) AS n_stop,
          CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
               AS BIGINT) AS n_punct,
          CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
               AS BIGINT) AS n_upper
        FROM documents),
      fp AS (
        SELECT doc_id, source,
          CAST(
            ((CAST(12 AS HUGEINT) * n_stop * n_chars
              - CAST(30 AS HUGEINT) * n_punct * n_toks
              - CAST(20 AS HUGEINT) * n_upper * n_toks)
             + CAST(5 AS HUGEINT) * (CAST(10 AS HUGEINT) * n_toks * n_chars))
            * 1048576
            // (CAST(10 AS HUGEINT) * n_toks * n_chars)
          AS BIGINT) AS s_fp
        FROM f WHERE n_toks >= 1),
      r AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY source
                                          ORDER BY s_fp DESC, doc_id)
                       AS BIGINT) AS rk
        FROM fp),
      n AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs
            FROM fp GROUP BY source)
      SELECT r.doc_id, r.source, r.s_fp, r.rk,
        (r.rk - 1) * 10 // n.n_docs AS decile
      FROM r JOIN n USING (source)
      ORDER BY r.doc_id""".stripMargin),
    "per-source quality calibration (CCNet head/middle/tail generalized to deciles): q83's linear scorer as its EXACT fixed-point twin - common denominator 10*n_toks*n_chars, +5 offset keeps the numerator non-negative so trunc==floor cross-engine, decimal(38,0) vs HUGEINT far past int64 docs - ranked within source via ops.BlockRanks (p-way on the 44% 'en' hot key), decile = (rk-1)*10 div n_docs; a global threshold empties low-scoring sources, the within-source quantile is domain-fair")

  /** q141's per-doc fixed-point quality score (doc_id, s_fp) — the
    * exact-integer twin of q83's float scorer, shared by q141's
    * calibration and q143's ensemble fusion. */
  private[graft] def qualityFixedPoint(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    qualityFeatures(s, dir)
      .select(col("doc_id"),
        expr("""cast(
            ((cast(12 as decimal(38,0)) * n_stop * n_chars
              - cast(30 as decimal(38,0)) * n_punct * n_toks
              - cast(20 as decimal(38,0)) * n_upper * n_toks)
             + cast(5 as decimal(38,0)) * (cast(10 as decimal(38,0)) * n_toks * n_chars))
            * cast(1048576 as decimal(38,0))
            div (cast(10 as decimal(38,0)) * n_toks * n_chars)
          as bigint)""").as("s_fp"))

  // ---------------------------------------------------------------------
  // q143 — ensemble quality rank fusion (RRF over independent signals)
  // ---------------------------------------------------------------------

  /** Ensemble quality selection — production filters rarely trust ONE
    * signal: a heuristic scorer and an LM-typicality scorer disagree
    * on exactly the documents worth a second look, and their SCORE
    * scALES are incompatible (fixed-point linear units vs mean bigram
    * log-mass), so the principled combination is rank fusion — q121's
    * reciprocal-rank machinery (Cormack SIGIR'09, K=60) lifted from
    * retrieval lists to corpus-wide quality signals. Each doc gets
    * fused = 1/(60+r_quality) + 1/(60+r_lm) over its GLOBAL rank
    * under each signal; docs a bigram LM cannot score (< 2 tokens)
    * carry r_lm = 0 and only the quality term — partially-overlapping
    * universes, the q121 convention.
    *
    * Cross-engine exactness: both underlying signals are already
    * engine-exact (q141's fixed-point integers; q125's IEEE division
    * of exact ints), ranks break ties on doc_id, and the fused score
    * is two IEEE divisions plus one addition in pinned order.
    *
    * Scale shape: the global ranks run through ops.BlockRanks on a
    * constant block — the range-split path unconditionally, so the
    * rank is p-way with no single-task global window (the discipline
    * Categorize's id mints follow); the rank frames are two narrow
    * longs per doc and the fusion is one doc-keyed left join.
    */
  val q143QualityRankFusion = Q(
    "q143_quality_rank_fusion",
    (s, dir) => {
      val q = qualityFixedPoint(s, dir).withColumn("__blk", lit(0L))
      val lm = lmScored(T.documentsSpread(s, dir))
        .select(col("doc_id"), col("lm_score")).withColumn("__blk", lit(0L))
      // knownRows: both rank inputs are sub-corpus frames — q ranks
      // docs with n_toks ≥ 1, lm ranks docs with ≥ 2 tokens — so one
      // non-empty-doc count, shared by both ranks, is a valid UPPER
      // bound on either row count, and an upper bound is exactly what
      // the fast-path branch needs (if it fits under the 32k window
      // threshold, the true count does too). Below the threshold each rank drops BlockRanks' split
      // path (range-sample job + eager checkpoint + offset agg +
      // broadcast join — the documented +0.8 s/call fixed cost at
      // sf0.1) for one plain window; at corpus scale the count
      // exceeds the threshold and the scale-safe split runs
      // unchanged. Ranks are bit-identical on both paths
      // (BlockRanksSpec), so the oracle is untouched.
      val nDocsBound = graft.queries.PipelineOps.nonEmptyDocCount(s, dir)
      val rq = graft.ops.BlockRanks.withBlockRank(
          q, "__blk", Seq(col("s_fp").desc, col("doc_id")), "r_quality",
          knownRows = nDocsBound)
        .select(col("doc_id"), col("s_fp"), col("r_quality"))
      val rl = graft.ops.BlockRanks.withBlockRank(
          lm, "__blk", Seq(col("lm_score").desc, col("doc_id")), "r_lm",
          knownRows = nDocsBound)
        .select(col("doc_id"), col("r_lm"))
      // one null guard: the output rank is coalesce(r_lm, 0), and a
      // BlockRanks rank is >= 1 when present, so `r_lm = 0` IS the
      // unscorable marker — fused reads the coalesced column directly
      rq.join(rl, Seq("doc_id"), "left")
        .select(col("doc_id"), col("s_fp"), col("r_quality"),
          coalesce(col("r_lm"), lit(0L)).as("r_lm"))
        .withColumn("fused",
          lit(1.0) / (lit(60.0) + col("r_quality").cast("double"))
            + when(col("r_lm") === 0L, lit(0.0))
              .otherwise(lit(1.0) / (lit(60.0) + col("r_lm").cast("double"))))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH f AS (
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars,
          CAST(len(list_filter($oracleToksSql, t -> t <> ''))
               AS BIGINT) AS n_toks,
          CAST(len(list_filter($oracleToksSql,
            t -> list_contains(['the','a','of','and','to','in','is','was'], t)))
               AS BIGINT) AS n_stop,
          CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
               AS BIGINT) AS n_punct,
          CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
               AS BIGINT) AS n_upper
        FROM documents),
      fp AS (
        SELECT doc_id,
          CAST(
            ((CAST(12 AS HUGEINT) * n_stop * n_chars
              - CAST(30 AS HUGEINT) * n_punct * n_toks
              - CAST(20 AS HUGEINT) * n_upper * n_toks)
             + CAST(5 AS HUGEINT) * (CAST(10 AS HUGEINT) * n_toks * n_chars))
            * 1048576
            // (CAST(10 AS HUGEINT) * n_toks * n_chars)
          AS BIGINT) AS s_fp
        FROM f WHERE n_toks >= 1),
      d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      p AS (
        SELECT doc_id, ts[i] AS a, ts[i + 1] AS b
        FROM d, UNNEST(generate_series(1, len(ts) - 1)) AS u(i)
        WHERE len(ts) >= 2),
      uni AS (
        SELECT w, CAST(COUNT(*) AS BIGINT) AS cu
        FROM (SELECT unnest(ts) AS w FROM d) GROUP BY w),
      bi AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS cb
        FROM p GROUP BY a, b),
      sq AS (
        SELECT p.doc_id, (bi.cb * 1048576) // uni.cu AS q
        FROM p
        JOIN bi ON bi.a = p.a AND bi.b = p.b
        JOIN uni ON uni.w = p.a),
      lm AS (
        SELECT doc_id,
          CAST(SUM(q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS lm_score
        FROM sq GROUP BY doc_id),
      rq AS (
        SELECT doc_id, s_fp,
          CAST(ROW_NUMBER() OVER (ORDER BY s_fp DESC, doc_id) AS BIGINT)
            AS r_quality
        FROM fp),
      rl AS (
        SELECT doc_id,
          CAST(ROW_NUMBER() OVER (ORDER BY lm_score DESC, doc_id) AS BIGINT)
            AS r_lm
        FROM lm)
      SELECT rq.doc_id, rq.s_fp, rq.r_quality,
        COALESCE(rl.r_lm, 0) AS r_lm,
        1.0 / (60.0 + rq.r_quality)
          + CASE WHEN rl.r_lm IS NULL THEN 0.0
                 ELSE 1.0 / (60.0 + rl.r_lm) END AS fused
      FROM rq LEFT JOIN rl USING (doc_id)
      ORDER BY rq.doc_id""".stripMargin),
    "ensemble quality selection via reciprocal-rank fusion (q121's RRF lifted from retrieval to corpus-wide signals, K=60): global ranks of q141's exact fixed-point heuristic score and q125's LM typicality score - incompatible score scales never mix, ranks through ops.BlockRanks' range-split path (no single-task global window) - fused = two IEEE divisions + one pinned-order addition; docs a bigram LM cannot score carry rank 0 and the quality term only (partially-overlapping universes, the q121 convention)")

  // ---------------------------------------------------------------------
  // q144 — per-source data card (the dataset-datasheet panel)
  // ---------------------------------------------------------------------

  /** The per-source DATA CARD — the datasheet panel a training-data
    * release ships per domain (Datasheets for Datasets, Gebru et al.
    * 2021, reduced to the measures this corpus model supports): doc
    * and token volume, vocabulary size, exact-duplicate burden, the
    * short-doc tail, and mean heuristic quality — one row per source,
    * every cell either an exact int64 or ONE IEEE division of exact
    * ints (q136's share discipline), so the whole card hash-compares
    * cross-engine.
    *
    * Duplicate burden counts LOSERS corpus-wide (a doc beaten by a
    * smaller doc_id with identical text — q29's min-survivor rule),
    * attributed to the loser's OWN source: a source that plagiarizes
    * another still owns its duplicate burden.
    *
    * Scale shape: three linear corpus passes, each map-side
    * combinable — (1) the checkpointed base scan (counts + md5)
    * feeding the per-source volume aggs and the dup-loser join; (2)
    * the vocabulary pass, its OWN tokenize scan feeding the (source,
    * token)-keyed distinct agg (the q30 shuffle shape — never a
    * per-source set in one task; `base` carries only counts, not
    * token arrays, so vocab re-tokenizes rather than widening the
    * checkpoint corpus-wide); (3) the fixed-point feature scan. The
    * three per-source panels join sources-sized at the end —
    * broadcast by construction.
    */
  val q144SourceDatacard = Q(
    "q144_source_datacard",
    (s, dir) => {
      // stored: fans into volume, dup, and vocab branches
      val base = Stored.checkpoint(T.documentsSpread(s, dir)
        .select(col("source"), col("doc_id"), col("n_chars"),
          expr(s"size(filter($toksSql, t -> t <> ''))").cast("long").as("n_tok"),
          md5(col("text")).as("h"))).df
      val vol = base.groupBy(col("source")).agg(
        count(lit(1)).as("n_docs"),
        sum(col("n_tok")).cast("long").as("n_tokens"),
        sum(col("n_chars")).cast("long").as("n_chars"),
        sum(when(col("n_tok") < 16, 1L).otherwise(0L)).as("n_short"))
      val losers = base.select(col("source"), col("doc_id"), col("h"))
        .join(base.groupBy(col("h")).agg(min(col("doc_id")).as("keep")), "h")
        .filter(col("doc_id") =!= col("keep"))
        .groupBy(col("source")).agg(count(lit(1)).as("n_dup_losers"))
      val vocab = T.documentsSpread(s, dir)
        .select(col("source"),
          explode(expr(s"filter($toksSql, t -> t <> '')")).as("w"))
        .groupBy(col("source"), col("w")).agg(count(lit(1)).as("__c"))
        .groupBy(col("source")).agg(count(lit(1)).as("vocab"))
      val qual = qualityFixedPoint(s, dir)
        .join(T.documents(s, dir).select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source")).agg(
          count(lit(1)).as("n_scored"),
          sum(col("s_fp")).cast("long").as("sum_s_fp"))
      // every panel is a post-aggregation frame with ≤ |sources| rows
      vol.join(vocab, "source")
        .join(losers, Seq("source"), "left")
        .join(qual, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
          col("vocab"),
          coalesce(col("n_dup_losers"), lit(0L)).as("n_dup_losers"),
          col("n_short"),
          coalesce(col("n_scored"), lit(0L)).as("n_scored"),
          (coalesce(col("sum_s_fp"), lit(0L)).cast("double")
            / greatest(col("n_scored"), lit(1L)).cast("double"))
            .as("mean_quality_fp"))
        .orderBy(col("source"))
    },
    Some(s"""
      WITH b AS (
        SELECT source, doc_id, CAST(n_chars AS BIGINT) AS n_chars,
          CAST(len(list_filter($oracleToksSql, t -> t <> ''))
               AS BIGINT) AS n_tok,
          md5(text) AS h
        FROM documents),
      vol AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
          CAST(SUM(n_tok) AS BIGINT) AS n_tokens,
          CAST(SUM(n_chars) AS BIGINT) AS n_chars,
          CAST(SUM(CASE WHEN n_tok < 16 THEN 1 ELSE 0 END) AS BIGINT) AS n_short
        FROM b GROUP BY source),
      losers AS (
        SELECT b.source, CAST(COUNT(*) AS BIGINT) AS n_dup_losers
        FROM b JOIN (SELECT h, MIN(doc_id) AS keep FROM b GROUP BY h) k
          ON k.h = b.h
        WHERE b.doc_id <> k.keep
        GROUP BY b.source),
      vocab AS (
        SELECT source, CAST(COUNT(DISTINCT w) AS BIGINT) AS vocab
        FROM (SELECT source,
                unnest(list_filter($oracleToksSql, t -> t <> ''))
                  AS w
              FROM documents)
        GROUP BY source),
      f AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars,
          CAST(len(list_filter($oracleToksSql, t -> t <> ''))
               AS BIGINT) AS n_toks,
          CAST(len(list_filter($oracleToksSql,
            t -> list_contains(['the','a','of','and','to','in','is','was'], t)))
               AS BIGINT) AS n_stop,
          CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
               AS BIGINT) AS n_punct,
          CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
               AS BIGINT) AS n_upper
        FROM documents),
      qual AS (
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n_scored,
          CAST(SUM(CAST(
            ((CAST(12 AS HUGEINT) * n_stop * n_chars
              - CAST(30 AS HUGEINT) * n_punct * n_toks
              - CAST(20 AS HUGEINT) * n_upper * n_toks)
             + CAST(5 AS HUGEINT) * (CAST(10 AS HUGEINT) * n_toks * n_chars))
            * 1048576
            // (CAST(10 AS HUGEINT) * n_toks * n_chars)
          AS BIGINT)) AS BIGINT) AS sum_s_fp
        FROM f WHERE n_toks >= 1 GROUP BY source)
      SELECT vol.source, vol.n_docs, vol.n_tokens, vol.n_chars,
        vocab.vocab,
        COALESCE(losers.n_dup_losers, 0) AS n_dup_losers,
        vol.n_short,
        COALESCE(qual.n_scored, 0) AS n_scored,
        CAST(COALESCE(qual.sum_s_fp, 0) AS DOUBLE)
          / CAST(GREATEST(qual.n_scored, 1) AS DOUBLE) AS mean_quality_fp
      FROM vol
      JOIN vocab USING (source)
      LEFT JOIN losers USING (source)
      LEFT JOIN qual USING (source)
      ORDER BY vol.source""".stripMargin),
    "per-source data card (the Datasheets-for-Datasets panel a release ships per domain): doc/token/char volume, vocabulary size via the (source, token)-keyed agg (never a per-source set in one task), corpus-wide exact-dup LOSER burden attributed to the loser's own source (q29's min-survivor rule), short-doc tail, and mean fixed-point quality - every cell an exact int64 or one IEEE division of exact ints; three linear map-side-combinable corpus passes joined sources-sized")

  // ---------------------------------------------------------------------
  // q145/q146 — TRAINED quality classifier: fixed-point logistic GD,
  // train (q145) then corpus-wide apply (q146)
  // ---------------------------------------------------------------------

  /** Fixed-point scale of the classifier's PROBABILITY axis: Q = 2^16
    * (the link output p and the label live in [0, Q]). */
  private[graft] val gdQ = 65536L
  /** Fixed-point scale of the FEATURE axis: F = 2^8. F is deliberately
    * much smaller than Q — it bounds the GD step (see [[gdStep]]): a
    * maximally-wrong round moves z by at most 5·F² = 327,680 ≈ 2.5×
    * the hard-sigmoid's linear HALF-band 2Q = 131,072 (z ∈ [−2Q, 2Q],
    * so 1.25× the full 4Q-wide band — the convention here is half-band
    * multiples), so descent cannot oscillate. The
    * first cut used F = Q with step 4g/(nQ) and MEASURED a three-round
    * oscillation (w0: −16,777 → +97,518 → −50,331 at sf0.01, every z
    * saturating both clamp rails in turn, final model all-reject) —
    * the feature-scale/step pair below is that documented tuning, not
    * an arbitrary constant. F also serves as the floor-division offset
    * (K·den ≥ |g| needs exactly K = F). */
  private[graft] val gdF = 256L

  /** The training design matrix (doc_id, y, x0..x4): q83's exact
    * integer features rendered as fixed-point ratios in [0, F] —
    * x0 bias, x1 stopword ratio, x2 punctuation ratio, x3 uppercase
    * ratio, x4 length saturation min(n_toks, F) (already in [0, F]:
    * the saturation IS the fixed-point rendering). Every feature is
    * a non-negative integer division (numerator ≥ 0, so trunc ≡ floor
    * on both engines with no offset needed). The label is the DECLARED
    * seed rule y = [lang = 'en'] — the reference-slice-as-positive
    * shape of fastText/DCLM-style quality classifiers (positives = a
    * trusted corpus, negatives = the rest); this rule is the seam
    * where human or LLM labels plug in, exactly as q125's train frame
    * is the seam for a curated reference corpus. `minDocId` excludes
    * held-out eval docs from training (the sourceDeciles post-carveout
    * argument — eval docs must never move the learned boundary);
    * registry q145/q146 train corpus-wide by default.
    */
  private[graft] def gdTrainFrame(s: org.apache.spark.sql.SparkSession,
      dir: String, minDocId: Long = Long.MinValue)
      : org.apache.spark.sql.DataFrame =
    qualityFeatures(s, dir)
      .filter(col("doc_id") >= minDocId)
      .join(T.documents(s, dir).select(col("doc_id"), col("lang")), "doc_id")
      .select(col("doc_id"),
        when(col("lang") === "en", 1L).otherwise(0L).as("y"),
        lit(gdF).as("x0"),
        expr(s"cast(n_stop as bigint) * $gdF div n_toks").as("x1"),
        expr(s"cast(n_punct as bigint) * $gdF div n_chars").as("x2"),
        expr(s"cast(n_upper as bigint) * $gdF div n_chars").as("x3"),
        expr(s"cast(least(n_toks, $gdF) as bigint)").as("x4"))

  /** z = w·x over the five fixed-point features (long — bounded by
    * 5·|w|·Q, far under int64 for the 3-round weight growth cap). */
  private def gdDot(f: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    f.withColumn("z",
      col("w0") * col("x0") + col("w1") * col("x1") + col("w2") * col("x2")
        + col("w3") * col("x3") + col("w4") * col("x4"))

  /** The hard-sigmoid link in fixed point: p = clamp((z+2Q) div 4, 0, Q)
    * — the piecewise-linear surrogate for the logistic σ, chosen so the
    * whole GD step is EXACT integer arithmetic (σ is transcendental and
    * never bit-reproducible cross-engine). Engine div semantics cannot
    * surface: when z+2Q ≥ 0 trunc ≡ floor, and when it is negative both
    * round to a non-positive value the clamp sends to 0. */
  private def gdLink(z: String): String =
    s"least(greatest(($z + ${2 * gdQ}) div 4, 0L), $gdQ)"

  /** ONE distributed gradient-descent step: w ← w − g ⌊div⌋ (n·Q)
    * with g_j = Σ_i (p_i − Q·y_i)·x_ij. The step bound is the point:
    * |g| ≤ n·Q·F so |Δw| ≤ F per round, and the induced z movement
    * |Δz| ≤ 5·F² ≈ 2.5× the link's linear half-band 2Q (1.25× the full
    * band; see [[gdF]] for the convention) even when every doc is
    * maximally wrong — stable descent by construction (the F = Q
    * first cut oscillated; see [[gdF]]). At a balanced start the step
    * is gentle: round 1 moves w0 by ē·F/Q ≈ 15 on this corpus.
    *
    * PRECONDITION: `fx` must be NON-EMPTY. On an empty design matrix
    * (e.g. a caller passing a minDocId past the whole corpus, or a
    * corpus of only zero-token docs) the gradient sums are null and
    * n = 0, so every updated weight is null and silently propagates —
    * a downstream quality gate would keep nothing with no diagnostic.
    * Callers that can legitimately see an empty slice must check
    * before calling (Curate's TrainedDeciles fails fast on a count of
    * the checkpointed design matrix; the registry queries train
    * corpus-wide on corpora the driver guarantees non-empty).
    *
    * The step is one map-side-combinable aggregation (five sums + a
    * count) down to a single row — the classic data-parallel GD shape;
    * the updated weight row broadcasts back for the next round.
    * Gradient sums accumulate in decimal(38,0) (per-row |e·x| ≤ Q·F =
    * 2^24, so an int64 accumulator overflows at ~2^39 docs — the q141
    * headroom rule applied at 100 TB), and the floor division adds
    * K·den with K = F (|g| ≤ n·Q·F = F·den, so the offset numerator is
    * provably non-negative and trunc ≡ floor on both engines). Integer
    * sums are partition-order independent, so the learned weights are
    * BIT-REPRODUCIBLE under any partitioning, retry schedule, or
    * cluster size — the property float GD famously lacks.
    */
  private[graft] def gdStep(fx: org.apache.spark.sql.DataFrame,
      w: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val g = gdDot(fx.crossJoin(w))
      .withColumn("e", expr(gdLink("z")) - lit(gdQ) * col("y"))
      .agg(
        sum((col("e") * col("x0")).cast("decimal(38,0)")).as("g0"),
        sum((col("e") * col("x1")).cast("decimal(38,0)")).as("g1"),
        sum((col("e") * col("x2")).cast("decimal(38,0)")).as("g2"),
        sum((col("e") * col("x3")).cast("decimal(38,0)")).as("g3"),
        sum((col("e") * col("x4")).cast("decimal(38,0)")).as("g4"),
        count(lit(1)).cast("decimal(38,0)").as("n"))
    def upd(j: Int) = expr(
      s"w$j - ((g$j + $gdF * (n * $gdQ)) div (n * $gdQ) - $gdF)").as(s"w$j")
    w.crossJoin(g)
      .select(upd(0), upd(1), upd(2), upd(3), upd(4))
  }

  /** The three unrolled GD rounds from w = 0. The design matrix is
    * corpus-narrow (7 longs/doc) and stored ONCE, as a [[Stored]] whose
    * `rows` is its observed row count — each round then reads blocks,
    * not the parquet+regex feature scan (at 100 TB this is the
    * cached-design-matrix trade every iterative trainer makes;
    * recomputing the scan per round is the alternative when executor
    * storage is the binding constraint). Each weight row is stored so
    * a round runs exactly once even though it feeds both the next round
    * and the query output — the q117/q124 iterative-trainer discipline.
    * Returns (fx, w1, w2, w3). */
  private[graft] def gdRounds(s: org.apache.spark.sql.SparkSession,
      dir: String, minDocId: Long = Long.MinValue)
      : (Stored, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame) = {
    val fx = Stored.checkpoint(gdTrainFrame(s, dir, minDocId))
    val w0 = s.range(1).select(
      lit(0L).as("w0"), lit(0L).as("w1"), lit(0L).as("w2"),
      lit(0L).as("w3"), lit(0L).as("w4"))
    val w1 = Stored.checkpoint(gdStep(fx.df, w0)).df
    val w2 = Stored.checkpoint(gdStep(fx.df, w1)).df
    val w3 = Stored.checkpoint(gdStep(fx.df, w2)).df
    (fx, w1, w2, w3)
  }

  /** Per-doc LEARNED scores (doc_id, z) under a weight row — q146's
    * scoring arithmetic factored so Curate's stage-1 TrainedDeciles
    * policy consumes exactly what the q145/q146 oracles prove. The
    * policy thresholds z at a QUANTILE, not at the absolute p ≥ Q/2
    * boundary — see q146's scaladoc for why the absolute cut is
    * degenerate on a weakly-separable corpus. */
  private[graft] def gdScores(fx: org.apache.spark.sql.DataFrame,
      w: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    gdDot(fx.crossJoin(w))
      .select(col("doc_id"), col("z"))

  private def gdTag(w: org.apache.spark.sql.DataFrame, r: Int) =
    w.select(lit(r.toLong).as("round"),
      col("w0"), col("w1"), col("w2"), col("w3"), col("w4"))

  /** Trained model-based quality filtering, the TRAIN half — the
    * capability the reference planned but never built ("Sentiment
    * Analysis: a planned feature to … filter inappropriate content",
    * /root/reference/README.md:24, "Filtering non-neutral …
    * content" :28), rendered as the fastText-style trained quality
    * classifier of the DCLM / FineWeb-Edu lineage: logistic regression
    * under the hard-sigmoid link, trained by three unrolled
    * distributed GD rounds over q83's exact integer feature frame,
    * every step fixed-point (probability scale Q = 2^16, feature
    * scale F = 2^8 — the pair that provably cannot oscillate, see
    * [[gdF]]/[[gdStep]]) so the weights are
    * bit-reproducible AND replayable as a DuckDB CTE chain (the
    * q117 k-means / q124 BPE unrolled-trainer precedent).
    *
    * Output: one row per round (round, w0..w4) — the full weight
    * trajectory, so the oracle pins every intermediate state, not
    * just the fixpoint.
    *
    * Scale shape: one feature scan into a checkpointed corpus-narrow
    * design matrix; per round ONE linear map-side-combinable pass
    * (five products + sums per row) reduced to a single broadcast-back
    * weight row. No parameter server, no driver-side loop over rows —
    * the round count is the only sequential axis. */
  val q145QualityTrain = Q(
    "q145_quality_train",
    (s, dir) => {
      val (_, w1, w2, w3) = gdRounds(s, dir)
      gdTag(w1, 1).unionByName(gdTag(w2, 2)).unionByName(gdTag(w3, 3))
        .orderBy(col("round"))
    },
    Some(s"""
      WITH f AS (
        SELECT doc_id,
          CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS y,
          CAST(n_chars AS BIGINT) AS n_chars,
          CAST(len(list_filter($oracleToksSql, t -> t <> ''))
               AS BIGINT) AS n_toks,
          CAST(len(list_filter($oracleToksSql,
            t -> list_contains(['the','a','of','and','to','in','is','was'], t)))
               AS BIGINT) AS n_stop,
          CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
               AS BIGINT) AS n_punct,
          CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
               AS BIGINT) AS n_upper
        FROM documents),
      x AS (
        SELECT doc_id, y,
          CAST(256 AS BIGINT) AS x0,
          (n_stop * 256) // n_toks AS x1,
          (n_punct * 256) // n_chars AS x2,
          (n_upper * 256) // n_chars AS x3,
          CAST(LEAST(n_toks, 256) AS BIGINT) AS x4
        FROM f WHERE n_toks >= 1),
      nn AS (SELECT CAST(COUNT(*) AS HUGEINT) * 65536 AS den FROM x),
      ga AS (
        SELECT SUM((32768 - 65536*y) * x0) AS g0,
               SUM((32768 - 65536*y) * x1) AS g1,
               SUM((32768 - 65536*y) * x2) AS g2,
               SUM((32768 - 65536*y) * x3) AS g3,
               SUM((32768 - 65536*y) * x4) AS g4
        FROM x),
      sa AS (
        SELECT 0 - ((g0 + 256*den) // den - 256) AS w0,
               0 - ((g1 + 256*den) // den - 256) AS w1,
               0 - ((g2 + 256*den) // den - 256) AS w2,
               0 - ((g3 + 256*den) // den - 256) AS w3,
               0 - ((g4 + 256*den) // den - 256) AS w4
        FROM ga, nn),
      zb AS (
        SELECT x.y, x.x0, x.x1, x.x2, x.x3, x.x4,
          sa.w0*x.x0 + sa.w1*x.x1 + sa.w2*x.x2 + sa.w3*x.x3 + sa.w4*x.x4 AS z
        FROM x, sa),
      gb AS (
        SELECT
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x0) AS g0,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x1) AS g1,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x2) AS g2,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x3) AS g3,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x4) AS g4
        FROM zb),
      sb AS (
        SELECT sa.w0 - ((gb.g0 + 256*den) // den - 256) AS w0,
               sa.w1 - ((gb.g1 + 256*den) // den - 256) AS w1,
               sa.w2 - ((gb.g2 + 256*den) // den - 256) AS w2,
               sa.w3 - ((gb.g3 + 256*den) // den - 256) AS w3,
               sa.w4 - ((gb.g4 + 256*den) // den - 256) AS w4
        FROM sa, gb, nn),
      zc AS (
        SELECT x.y, x.x0, x.x1, x.x2, x.x3, x.x4,
          sb.w0*x.x0 + sb.w1*x.x1 + sb.w2*x.x2 + sb.w3*x.x3 + sb.w4*x.x4 AS z
        FROM x, sb),
      gc AS (
        SELECT
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x0) AS g0,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x1) AS g1,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x2) AS g2,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x3) AS g3,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x4) AS g4
        FROM zc),
      sc AS (
        SELECT sb.w0 - ((gc.g0 + 256*den) // den - 256) AS w0,
               sb.w1 - ((gc.g1 + 256*den) // den - 256) AS w1,
               sb.w2 - ((gc.g2 + 256*den) // den - 256) AS w2,
               sb.w3 - ((gc.g3 + 256*den) // den - 256) AS w3,
               sb.w4 - ((gc.g4 + 256*den) // den - 256) AS w4
        FROM sb, gc, nn)
      SELECT CAST(1 AS BIGINT) AS round, CAST(w0 AS BIGINT) AS w0,
        CAST(w1 AS BIGINT) AS w1, CAST(w2 AS BIGINT) AS w2,
        CAST(w3 AS BIGINT) AS w3, CAST(w4 AS BIGINT) AS w4 FROM sa
      UNION ALL
      SELECT CAST(2 AS BIGINT), CAST(w0 AS BIGINT), CAST(w1 AS BIGINT),
        CAST(w2 AS BIGINT), CAST(w3 AS BIGINT), CAST(w4 AS BIGINT) FROM sb
      UNION ALL
      SELECT CAST(3 AS BIGINT), CAST(w0 AS BIGINT), CAST(w1 AS BIGINT),
        CAST(w2 AS BIGINT), CAST(w3 AS BIGINT), CAST(w4 AS BIGINT) FROM sc
      ORDER BY round""".stripMargin),
    "TRAINED quality classifier, train half (the fastText/DCLM/FineWeb-Edu shape; the reference's planned-but-unbuilt neutrality filter): logistic regression under the piecewise-linear hard-sigmoid link, three unrolled distributed GD rounds over q83's exact integer features as fixed-point ratios (probability scale Q=2^16, feature scale F=2^8 - the step bound |dz| <= 5F^2 ~ 2.5 linear bands that provably cannot oscillate; the F=Q first cut measured a three-round oscillation and is documented at the seam), labels from the declared seed rule y=[lang='en'] (the seam where human labels plug in) - every step exact integer arithmetic (decimal(38,0) gradient sums, offset floor-division so trunc==floor cross-engine), weights bit-reproducible under ANY partitioning; per round ONE map-side-combinable agg to a single broadcast-back weight row")

  /** The APPLY half — q145's learned round-3 weights scored over the
    * whole corpus: z = w·x, p = hard-sigmoid(z), keep = [p ≥ Q/2]. The
    * registry's each-query-self-contained contract means the three
    * training passes re-run here (the q140/q139 composition rule);
    * the apply itself is the q138 shape — one broadcast weight row
    * joined into a per-row codegen projection, zero shuffles beyond
    * the output sort. This closes the train → apply lifecycle the
    * way q124 (BPE train) → q138 (BPE apply) does for tokenizers.
    *
    * On THIS corpus the absolute keep column is honestly degenerate
    * (all 0): the seed-label prior is 0.44 < 1/2 and the synthetic
    * features separate the classes only weakly, so the GD equilibrium
    * predicts p̂ < Q/2 for every doc — a property of the data, not the
    * trainer (any round count lands there; verified against the
    * sequential reference). Production classifier filters hit the
    * same wall and cut at a score QUANTILE instead (DCLM keeps the
    * top ~10-20% by fastText score; CCNet buckets by perplexity
    * quantile) — that consumer is Curate's stage-1 TrainedDeciles
    * policy over the factored [[gdScores]] seam, which thresholds the
    * learned z at a global decile. keep stays in this output because
    * the absolute boundary is the model's own verdict and the oracle
    * should pin it — including its all-reject value here. */
  val q146QualityApply = Q(
    "q146_quality_apply",
    (s, dir) => {
      val (fx, _, _, w3) = gdRounds(s, dir)
      gdDot(fx.df.crossJoin(w3))
        .select(col("doc_id"), col("y"), col("z"),
          expr(gdLink("z")).as("p_fp"))
        .withColumn("keep",
          when(col("p_fp") >= lit(gdQ / 2), 1).otherwise(0))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH f AS (
        SELECT doc_id,
          CASE WHEN lang = 'en' THEN CAST(1 AS BIGINT)
               ELSE CAST(0 AS BIGINT) END AS y,
          CAST(n_chars AS BIGINT) AS n_chars,
          CAST(len(list_filter($oracleToksSql, t -> t <> ''))
               AS BIGINT) AS n_toks,
          CAST(len(list_filter($oracleToksSql,
            t -> list_contains(['the','a','of','and','to','in','is','was'], t)))
               AS BIGINT) AS n_stop,
          CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g'))
               AS BIGINT) AS n_punct,
          CAST(length(text) - length(regexp_replace(text, '[A-Z]', '', 'g'))
               AS BIGINT) AS n_upper
        FROM documents),
      x AS (
        SELECT doc_id, y,
          CAST(256 AS BIGINT) AS x0,
          (n_stop * 256) // n_toks AS x1,
          (n_punct * 256) // n_chars AS x2,
          (n_upper * 256) // n_chars AS x3,
          CAST(LEAST(n_toks, 256) AS BIGINT) AS x4
        FROM f WHERE n_toks >= 1),
      nn AS (SELECT CAST(COUNT(*) AS HUGEINT) * 65536 AS den FROM x),
      ga AS (
        SELECT SUM((32768 - 65536*y) * x0) AS g0,
               SUM((32768 - 65536*y) * x1) AS g1,
               SUM((32768 - 65536*y) * x2) AS g2,
               SUM((32768 - 65536*y) * x3) AS g3,
               SUM((32768 - 65536*y) * x4) AS g4
        FROM x),
      sa AS (
        SELECT 0 - ((g0 + 256*den) // den - 256) AS w0,
               0 - ((g1 + 256*den) // den - 256) AS w1,
               0 - ((g2 + 256*den) // den - 256) AS w2,
               0 - ((g3 + 256*den) // den - 256) AS w3,
               0 - ((g4 + 256*den) // den - 256) AS w4
        FROM ga, nn),
      zb AS (
        SELECT x.y, x.x0, x.x1, x.x2, x.x3, x.x4,
          sa.w0*x.x0 + sa.w1*x.x1 + sa.w2*x.x2 + sa.w3*x.x3 + sa.w4*x.x4 AS z
        FROM x, sa),
      gb AS (
        SELECT
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x0) AS g0,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x1) AS g1,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x2) AS g2,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x3) AS g3,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x4) AS g4
        FROM zb),
      sb AS (
        SELECT sa.w0 - ((gb.g0 + 256*den) // den - 256) AS w0,
               sa.w1 - ((gb.g1 + 256*den) // den - 256) AS w1,
               sa.w2 - ((gb.g2 + 256*den) // den - 256) AS w2,
               sa.w3 - ((gb.g3 + 256*den) // den - 256) AS w3,
               sa.w4 - ((gb.g4 + 256*den) // den - 256) AS w4
        FROM sa, gb, nn),
      zc AS (
        SELECT x.y, x.x0, x.x1, x.x2, x.x3, x.x4,
          sb.w0*x.x0 + sb.w1*x.x1 + sb.w2*x.x2 + sb.w3*x.x3 + sb.w4*x.x4 AS z
        FROM x, sb),
      gc AS (
        SELECT
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x0) AS g0,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x1) AS g1,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x2) AS g2,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x3) AS g3,
          SUM((LEAST(GREATEST((z + 131072) // 4, 0), 65536) - 65536*y) * x4) AS g4
        FROM zc),
      sc AS (
        SELECT sb.w0 - ((gc.g0 + 256*den) // den - 256) AS w0,
               sb.w1 - ((gc.g1 + 256*den) // den - 256) AS w1,
               sb.w2 - ((gc.g2 + 256*den) // den - 256) AS w2,
               sb.w3 - ((gc.g3 + 256*den) // den - 256) AS w3,
               sb.w4 - ((gc.g4 + 256*den) // den - 256) AS w4
        FROM sb, gc, nn),
      app AS (
        SELECT x.doc_id, x.y,
          sc.w0*x.x0 + sc.w1*x.x1 + sc.w2*x.x2 + sc.w3*x.x3 + sc.w4*x.x4 AS z
        FROM x, sc)
      SELECT doc_id, y, CAST(z AS BIGINT) AS z,
        CAST(LEAST(GREATEST((z + 131072) // 4, 0), 65536) AS BIGINT) AS p_fp,
        CASE WHEN LEAST(GREATEST((z + 131072) // 4, 0), 65536) >= 32768
             THEN 1 ELSE 0 END AS keep
      FROM app ORDER BY doc_id""".stripMargin),
    "TRAINED quality classifier, apply half (the q138 apply shape closing the q124->q138-style train->apply lifecycle for data selection): q145's learned round-3 fixed-point weights broadcast into one per-row codegen projection over the whole corpus - z = w.x, p = hard-sigmoid(z), keep = [p >= Q/2]; zero shuffles beyond the output sort, bit-identical cross-engine because every op is exact integer arithmetic")

  val all: Seq[Q] = Seq(
    q81NgramDupSpans, q82KnnLabelVote, q83QualityScore, q84MixtureRebalance,
    q85VocabOov, q86LengthOutliers, q87EmbedCellDedup, q88LengthHistogram,
    q89NeardupPrune, q90SourceLeakage, q93MixtureApply, q95SaltedJoin,
    q96NoveltyCurve, q98IncrementalNovelty, q103EpochUpsample,
    q114QualityThresholdCurve, q118PpsSample, q125BigramLmScore,
    q126SemanticDecontam, q135DsirContrast, q136TemperatureMix,
    q139MutualKnnClusters, q140ClusterQuotaSample, q141QualityCalibrate,
    q143QualityRankFusion, q144SourceDatacard, q145QualityTrain,
    q146QualityApply)
}
