package graft.queries

import graft.{Q, Tables => T}
import graft.ops.Stored
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Fourth capability wave — corpus-curation operators a training-data
  * pipeline runs between "crawled" and "ready to train on": relevance
  * weighting (TF-IDF), reproducible dataset splits, incremental
  * snapshot dedup, collocation mining, and PII redaction.
  *
  * Shared discipline with [[LlmOps]]/[[PipelineOps]]: candidate
  * generation before verification, keyed shuffles only, and
  * cross-engine-deterministic arithmetic — scores stay in exact int64
  * products (< 2^53, so the int→double conversion is exact) until a
  * SINGLE division, which IEEE-754 rounds identically in both engines.
  * No transcendentals cross the oracle boundary: log-based variants of
  * TF-IDF/PMI would compare Java's `Math.log` against DuckDB's libm
  * `log`, which may differ in the last ulp — so the registered forms
  * use the rational (log-free) variants and document the equivalence.
  */
object TrainingOps {

  import graft.Qdsl.{oracleToksSql, toksSql}

  // ---------------------------------------------------------------------
  // q66 — TF-IDF term relevance
  // ---------------------------------------------------------------------

  /** Top-3 most corpus-distinctive terms per document by TF-IDF, with
    * the RATIONAL idf variant idf(t) = N/df(t) (no log — see the object
    * doc; `tf·N` and `df` are exact integers, the score is one exact
    * division, bit-identical across engines; the usual `log` form is a
    * per-term monotone reweighting of the same inputs).
    *
    * Scale shape: document frequency is ONE hash-agg over the distinct
    * (term, doc) pairs of the FULL corpus — never a per-doc scan — and
    * the per-doc TF frame joins it on the term key. The report is
    * scoped to doc_id < 30 and that filter sits BELOW the tf agg (only
    * the df side reads every doc, and it reads only the token column).
    * The df frame is vocabulary-sized — orders of magnitude smaller
    * than the corpus (Heaps' law) — and AQE broadcasts it from its
    * measured size; a truly huge vocabulary stays a shuffled join on
    * `t`, same semantics.
    */
  val q66Tfidf = Q(
    "q66_tfidf",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val toks = T.documentsSpread(s, dir)
        .select(col("doc_id"), explode(expr(toksSql)).as("t"))
        .filter(col("t") =!= "")
      val df = toks.distinct().groupBy(col("t")).agg(count(lit(1)).as("df"))
      val n = T.documents(s, dir).agg(count(lit(1)).as("n_docs"))
      val tf = toks.filter(col("doc_id") < 30)
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("tf"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("score").desc, col("t"))
      tf.join(df, "t").crossJoin(n)
        .withColumn("score",
          (col("tf") * col("n_docs")).cast("double") / col("df"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("doc_id"), col("rank"), col("t").as("term"),
          col("tf"), col("df"), col("score"))
        .orderBy(col("doc_id"), col("rank"))
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, t
        FROM (SELECT doc_id, unnest($oracleToksSql) AS t
              FROM documents)
        WHERE t <> ''),
      df AS (
        SELECT t, COUNT(*) AS df
        FROM (SELECT DISTINCT doc_id, t FROM toks) GROUP BY t),
      tf AS (
        SELECT doc_id, t, COUNT(*) AS tf FROM toks
        WHERE doc_id < 30 GROUP BY doc_id, t),
      scored AS (
        SELECT tf.doc_id, tf.t, tf.tf, df.df,
          CAST(tf.tf * (SELECT COUNT(*) FROM documents) AS DOUBLE) / df.df AS score
        FROM tf JOIN df ON tf.t = df.t),
      r AS (
        SELECT doc_id, t, tf, df, score,
          CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY score DESC, t) AS INTEGER) AS rank
        FROM scored)
      SELECT doc_id, rank, t AS term, tf, df, score
      FROM r WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin),
    "TF-IDF top terms per doc: corpus-wide df hash-agg (vocabulary-sized, broadcast) joined to scoped tf; rational idf keeps the score an exact-int division, bit-identical cross-engine")

  // ---------------------------------------------------------------------
  // q67 — reproducible hash-based dataset split
  // ---------------------------------------------------------------------

  /** Deterministic train/val/test assignment — the reproducibility
    * primitive every training pipeline needs: split membership is a
    * pure function of the stable key (md5 of the decimal doc_id → first
    * 16 bits → mod 10: 0-7 train, 8 val, 9 test), so it is identical
    * across engines, runs, cluster sizes, and data re-partitioning —
    * unlike `rand(seed)`-based sampling, which depends on row order and
    * partitioning. Reported per (split, lang) so the oracle also pins
    * the stratification balance.
    *
    * Scale: embarrassingly parallel map + one hash agg on ~30 groups.
    * Adding a dataset-version salt into the md5 input re-splits
    * reproducibly; keying on a CONTENT hash instead (q68's md5(text))
    * makes membership survive doc_id reassignment across crawls.
    */
  val q67HashSplit = Q(
    "q67_hash_split",
    (s, dir) =>
      T.documentsSpread(s, dir)
        .withColumn("bucket",
          expr("cast(conv(substring(md5(cast(doc_id as string)), 1, 4), 16, 10) as int) % 10"))
        .withColumn("split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val").otherwise("test"))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr(s"size(filter($toksSql, t -> t <> ''))")).as("n_tokens"))
        .orderBy(col("split"), col("lang")),
    Some(s"""
      WITH b AS (
        SELECT lang,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 4))::INT % 10 AS bucket,
          len(list_filter($oracleToksSql, t -> t <> '')) AS n_toks
        FROM documents)
      SELECT CASE WHEN bucket < 8 THEN 'train'
                  WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
        lang, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      FROM b GROUP BY 1, 2 ORDER BY split, lang""".stripMargin),
    "reproducible train/val/test split: membership = pure function of md5(doc_id) — stable across runs/partitioning (vs order-dependent rand(seed)); map + one small hash agg")

  // ---------------------------------------------------------------------
  // q112 — cluster-safe split (near-dup leakage guard on q67)
  // ---------------------------------------------------------------------

  /** q67's reproducible split with the leakage guard a real pipeline
    * cannot skip: two near-duplicate documents must land in the SAME
    * split, or the eval set scores memorization (the train/test
    * contamination q77 checks for is created by exactly this
    * mistake). Split membership therefore hashes the document's
    * CLUSTER REPRESENTATIVE — the q72 component minimum, falling back
    * to the doc's own id for unclustered docs — so every near-dup
    * cluster moves as one unit. Output: per-(split, source) doc/token
    * rollup, same shape as q67's.
    *
    * Scale shape: the cluster labels are a pair-graph-sized frame
    * (near-dups only) — small where near-dups are rare, but on a real
    * crawl with 20–30% near-dup membership it is corpus-fraction-sized
    * and a forced broadcast would OOM the driver. The label join is
    * therefore a plain left join on doc_id with no hint: AQE's runtime
    * conversion broadcasts the label side from its measured size when
    * it fits the threshold, and otherwise keeps the shuffled join (the
    * corpus side is already hash-partitioned on doc_id by
    * documentsSpread). The rest is q67's map + one small hash agg.
    * Labels come from q72's star-contraction CC.
    */
  val q112ClusterSafeSplit = Q(
    "q112_cluster_safe_split",
    (s, dir) => {
      val pairs = LlmOps.nearDupPairs(s, dir)
        .select(col("id_a"), col("id_b"))
      val labels = graft.ops.ConnectedComponents.largeStarSmallStar(pairs)
        .select(col("v").as("doc_id"), col("lbl"))
      T.documentsSpread(s, dir)
        .join(labels, Seq("doc_id"), "left")
        .withColumn("rep", coalesce(col("lbl"), col("doc_id")))
        .withColumn("bucket",
          expr("cast(conv(substring(md5(cast(rep as string)), 1, 4), 16, 10) as int) % 10"))
        .withColumn("split",
          when(col("bucket") < 8, "train")
            .when(col("bucket") === 8, "val").otherwise("test"))
        .groupBy(col("split"), col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(expr(s"size(filter($toksSql, t -> t <> ''))")).as("n_tokens"))
        .orderBy(col("split"), col("source"))
    },
    Some(s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id,
          list_distinct(list_transform(generate_series(1, len(toks)-2),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, $oracleToksSql toks FROM documents)
        WHERE len(toks) >= 3),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
      e AS (
        SELECT id_a AS v, id_b AS u FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      reach(v, u) AS (
        SELECT v, u FROM e
        UNION
        SELECT r.v, e.u FROM reach r JOIN e ON e.v = r.u),
      lbl AS (
        SELECT v AS doc_id, LEAST(v, MIN(u)) AS lbl FROM reach GROUP BY v),
      b AS (
        SELECT d.source,
          ('0x' || substr(md5(CAST(COALESCE(l.lbl, d.doc_id) AS VARCHAR)),
            1, 4))::INT % 10 AS bucket,
          len(list_filter(string_split(lower(d.text), ' '), t -> t <> ''))
            AS n_toks
        FROM documents d LEFT JOIN lbl l ON l.doc_id = d.doc_id)
      SELECT CASE WHEN bucket < 8 THEN 'train'
                  WHEN bucket = 8 THEN 'val' ELSE 'test' END AS split,
        source, COUNT(*) AS n_docs, CAST(SUM(n_toks) AS BIGINT) AS n_tokens
      FROM b GROUP BY 1, 2 ORDER BY split, source""".stripMargin),
    "cluster-safe reproducible split: membership hashes the q72 cluster representative (own id when unclustered) so near-dup clusters move as one unit — the leakage guard composing q72's star-contraction CC + q67's hash split; a plain left join on doc_id that AQE broadcasts from the label frame's measured size when it fits the threshold, else a shuffled join")

  // ---------------------------------------------------------------------
  // q68 — incremental (snapshot-delta) dedup
  // ---------------------------------------------------------------------

  /** Incremental ingest dedup — the between-crawls form of q29's exact
    * dedup: an incoming batch (here docs with doc_id % 10 = 0, standing
    * in for "today's crawl") is checked against the existing corpus by
    * content fingerprint; per language we report how many incoming docs
    * duplicate corpus content vs are genuinely new. This is the
    * operation that keeps a 100 TB corpus append-only: never re-dedup
    * the whole corpus, only delta ⋈ corpus.
    *
    * The fingerprint is md5 of the LEADING-8-TOKEN prefix — the
    * boilerplate-prefix key crawl pipelines dedup on (mirrored pages
    * and template farms share openings long before they share full
    * bodies), chosen over md5(full text) here because this synthetic
    * corpus has no full-text duplicates across the batch boundary at
    * any SF (measured), which would leave the duplicate branch
    * untested; the prefix key fires both branches (6 dup / 44 new per
    * 50 incoming at sf0.01). Swapping the fingerprint expression for
    * `md5(text)` gives byte-exact semantics with the identical plan.
    *
    * Scale shape: both sides reduce to (16-byte md5, key) BEFORE the
    * join — the corpus side is `select distinct md5(text)`, so the only
    * shuffle moves hashes, never text. The join is a hash-partitioned
    * equi-join on the hash (both sides large ⇒ no broadcast); with the
    * corpus-hash table bucketed on the hash (`bucketBy`) the corpus
    * side's exchange disappears entirely and daily deltas join
    * exchange-free on their own (small) shuffle.
    */
  val q68IncrementalDedup = Q(
    "q68_incremental_dedup",
    (s, dir) => {
      val fp = md5(array_join(slice(split(lower(col("text")), " "), 1, 8), " "))
      val docs = T.documentsSpread(s, dir)
      val corpusHashes = docs.filter(col("doc_id") % 10 =!= 0)
        .select(fp.as("h")).distinct()
        .withColumn("in_corpus", lit(1))
      val incoming = docs.filter(col("doc_id") % 10 === 0)
        .select(col("lang"), fp.as("h"))
      incoming.join(corpusHashes, Seq("h"), "left")
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_incoming"),
          count(col("in_corpus")).as("n_dup"),
          sum(when(col("in_corpus").isNull, 1L).otherwise(0L)).as("n_new"))
        .orderBy(col("lang"))
    },
    Some(s"""
      WITH fp AS (
        SELECT doc_id, lang,
          md5(array_to_string(list_slice($oracleToksSql, 1, 8), ' ')) AS h
        FROM documents),
      corpus AS (SELECT DISTINCT h FROM fp WHERE doc_id % 10 <> 0),
      inc AS (SELECT lang, h FROM fp WHERE doc_id % 10 = 0)
      SELECT i.lang, COUNT(*) AS n_incoming,
        COUNT(c.h) AS n_dup,
        CAST(COUNT(*) FILTER (c.h IS NULL) AS BIGINT) AS n_new
      FROM inc i LEFT JOIN corpus c ON i.h = c.h
      GROUP BY i.lang ORDER BY i.lang""".stripMargin),
    "incremental snapshot dedup: incoming batch vs corpus by content fingerprint (leading-token-prefix md5) — both sides reduced to 16-byte hashes before the equi-join, so only hashes shuffle; the append-only path that avoids ever re-deduping the full corpus")

  // ---------------------------------------------------------------------
  // q69 — bigram collocation mining (PMI-style lift)
  // ---------------------------------------------------------------------

  /** Top adjacent-token collocations by association LIFT —
    * p(ab)/(p(a)·p(b)), the exponential of PMI, so the ranking is
    * IDENTICAL to PMI's (exp is monotone) while the score stays in
    * exact integer products: lift = (c_ab·U²) / (B·c_a·c_b), with U =
    * total unigrams and B = total bigrams. Both products stay below
    * 2^53 at every test SF (documented bound: U ≈ 4·10⁵ at sf0.1 ⇒
    * numerator ≤ c_ab·U² ≈ 10¹⁵), so the single final division is
    * bit-identical cross-engine.
    *
    * Scale shape: bigrams come from a per-row `slice`+`arrays_zip` (no
    * self-join of token positions — the classic mistake that shuffles
    * the corpus twice); then two hash aggs (bigram counts, unigram
    * counts) and a broadcast join of unigram counts onto the bigram
    * frame, min-support 5 pruning the long tail before the join. The
    * broadcast side is NOT the full vocabulary: the SURVIVOR bigram
    * frame — bounded by the min-support threshold, not |vocab| — is
    * what gets broadcast, and the vocabulary-sized unigram count frame
    * is STREAMED past it (a-side pass, then b-side pass with c_a
    * already attached, the intermediate still survivor-sized; AQE
    * reuses the unigram aggregation exchange between the passes). The
    * threshold is therefore what bounds driver memory; on a corpus
    * whose survivor set still outgrew the broadcast threshold
    * (min-support lowered toward 1 on web-scale text), drop the two
    * `broadcast` hints and let the planner fall back to a shuffled
    * hash join — same rows, one more exchange (the q66/q107 swap-point
    * convention). Totals ride along as 1-row broadcast frames.
    */
  val q69BigramLift = Q(
    "q69_bigram_lift",
    (s, dir) => {
      val toks = T.documentsSpread(s, dir)
        .select(expr(s"filter($toksSql, t -> t <> '')").as("toks"))
      val uni = toks.select(explode(col("toks")).as("t"))
      // The count tables are STORED and the totals derived from
      // them (u_total = Σc, b_total = Σc_ab — identities, not
      // approximations): the first cut aggregated the exploded corpus
      // once per count table AND once per total, and the unigram table
      // was additionally replanned for each side of the survivor join
      // (Catalyst does not share identical subplans). Two corpus passes
      // total now, and both count frames are vocabulary/bigram-table-
      // sized — the compact artifacts a 100 TB LM-stats job
      // materializes anyway.
      val uniCounts = Stored.checkpoint(uni.groupBy(col("t")).agg(count(lit(1)).as("c"))).df
      val uniTotal = uniCounts.agg(sum(col("c")).as("u_total"))
      val bi = toks
        .filter(size(col("toks")) >= 2)
        .select(explode(expr(
          "arrays_zip(slice(toks, 1, size(toks)-1), slice(toks, 2, size(toks)-1))"))
          .as("p"))
        .select(col("p")("0").as("a"), col("p")("1").as("b"))
      val biCounts = Stored.checkpoint(bi.groupBy(col("a"), col("b"))
        .agg(count(lit(1)).as("c_ab"))).df
      val biTotal = biCounts.agg(sum(col("c_ab")).as("b_total"))
      val survivors = biCounts.filter(col("c_ab") >= 5)
      // the SURVIVOR frame (bounded by the min-support threshold) meets
      // the unigram counts twice (a-side, then b-side with c_a attached
      // — still survivor-sized); both count frames are stored, so the
      // planner sizes each join from their measured rows
      val withCa = uniCounts.join(survivors, col("t") === col("a"))
        .select(col("a"), col("b"), col("c_ab"), col("c").as("c_a"))
      uniCounts.join(withCa, col("t") === col("b"))
        .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c").as("c_b"))
        .crossJoin(uniTotal).crossJoin(biTotal)
        .withColumn("lift",
          (col("c_ab") * col("u_total") * col("u_total")).cast("double")
            / (col("b_total") * col("c_a") * col("c_b")))
        .select(col("a"), col("b"), col("c_ab"), col("c_a"), col("c_b"), col("lift"))
        .orderBy(col("lift").desc, col("a"), col("b"))
        .limit(15)
    },
    Some(s"""
      WITH toks AS (
        SELECT doc_id, list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      uni AS (SELECT unnest(ts) AS t FROM toks),
      uc AS (SELECT t, COUNT(*) AS c FROM uni GROUP BY t),
      ut AS (SELECT CAST(COUNT(*) AS BIGINT) AS u_total FROM uni),
      bi AS (
        SELECT ts[i] AS a, ts[i+1] AS b
        FROM (SELECT ts, unnest(generate_series(1, len(ts) - 1)) AS i FROM toks)),
      bc AS (SELECT a, b, COUNT(*) AS c_ab FROM bi GROUP BY a, b),
      bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_total FROM bi)
      SELECT bc.a, bc.b, bc.c_ab, ca.c AS c_a, cb.c AS c_b,
        CAST(bc.c_ab * ut.u_total * ut.u_total AS DOUBLE)
          / (bt.b_total * ca.c * cb.c) AS lift
      FROM bc, ut, bt
      JOIN uc ca ON bc.a = ca.t
      JOIN uc cb ON bc.b = cb.t
      WHERE bc.c_ab >= 5
      ORDER BY lift DESC, bc.a, bc.b LIMIT 15""".stripMargin),
    "bigram collocations by lift (= exp(PMI), same ranking, exact-int arithmetic): per-row slice+zip bigrams (no positional self-join), two hash aggs, then the min-support-SURVIVOR frame is broadcast and the vocabulary-sized unigram counts stream past it — the threshold, not |vocab|, bounds the broadcast")

  // ---------------------------------------------------------------------
  // q70 — PII detection & redaction profile
  // ---------------------------------------------------------------------

  /** PII scrubbing — detect and redact email- and phone-shaped spans,
    * reporting the per-language redaction profile (docs touched, spans
    * by type, chars before/after). The corpus's synthetic text contains
    * no PII, so a deterministic injection step (keyed on doc_id — no
    * randomness, see the object doc) plants known spans first; the
    * oracle independently re-derives counts from the same injected
    * text, so the regex DETECTION is what's being cross-checked.
    * Patterns are kept to the Java-regex ∩ RE2 common subset
    * (character classes, +/{n}, no lookaround) so both engines compile
    * them identically; Spark's `regexp_replace` replaces ALL matches —
    * DuckDB needs the explicit 'g' flag to match.
    *
    * Scale: pure per-row map (regex scan is the cost, O(len) with
    * these patterns) + one small hash agg; nothing shuffles but the
    * 5-language aggregate. At 100 TB this is the shape you want —
    * redaction riding the same single pass as quality scoring (q62),
    * no extra materialization of the corpus.
    */
  val q70PiiRedact = Q(
    "q70_pii_redact",
    (s, dir) => {
      val email = "[a-z0-9]+@[a-z]+\\.[a-z]+"
      val phone = "555-[0-9]{4}"
      T.documentsSpread(s, dir)
        .withColumn("raw",
          when(col("doc_id") % 3 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id"),
              lit("@example.com now")))
            .when(col("doc_id") % 3 === 1,
              concat(col("text"), lit(" call 555-"),
                lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
            .otherwise(col("text")))
        .withColumn("n_email", size(regexp_extract_all(col("raw"), lit(email), lit(0))))
        .withColumn("n_phone", size(regexp_extract_all(col("raw"), lit(phone), lit(0))))
        .withColumn("clean",
          regexp_replace(regexp_replace(col("raw"), email, "<EMAIL>"),
            phone, "<PHONE>"))
        .groupBy(col("lang"))
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("n_email") + col("n_phone") > 0, 1L).otherwise(0L))
            .as("n_docs_with_pii"),
          sum(col("n_email")).as("n_emails"),
          sum(col("n_phone")).as("n_phones"),
          sum(length(col("raw"))).as("chars_raw"),
          sum(length(col("clean"))).as("chars_clean"))
        .orderBy(col("lang"))
    },
    Some("""
      WITH r AS (
        SELECT lang,
          CASE WHEN doc_id % 3 = 0
                 THEN text || ' contact user' || doc_id || '@example.com now'
               WHEN doc_id % 3 = 1
                 THEN text || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')
               ELSE text END AS raw
        FROM documents),
      d AS (
        SELECT lang, raw,
          len(regexp_extract_all(raw, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS n_email,
          len(regexp_extract_all(raw, '555-[0-9]{4}')) AS n_phone,
          regexp_replace(regexp_replace(raw, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
            '555-[0-9]{4}', '<PHONE>', 'g') AS clean
        FROM r)
      SELECT lang, COUNT(*) AS n_docs,
        CAST(COUNT(*) FILTER (n_email + n_phone > 0) AS BIGINT) AS n_docs_with_pii,
        CAST(SUM(n_email) AS BIGINT) AS n_emails,
        CAST(SUM(n_phone) AS BIGINT) AS n_phones,
        CAST(SUM(len(raw)) AS BIGINT) AS chars_raw,
        CAST(SUM(len(clean)) AS BIGINT) AS chars_clean
      FROM d GROUP BY lang ORDER BY lang""".stripMargin),
    "PII redaction profile: email/phone regex detect + replace-all in one per-row pass (Java-regex ∩ RE2 pattern subset; DuckDB oracle uses the 'g' flag), deterministic injection keyed on doc_id, 5-row hash agg output")

  // ---------------------------------------------------------------------
  // q71 — Count-Min sketch heavy hitters
  // ---------------------------------------------------------------------

  /** Heavy-hitter token frequencies via a Count-Min sketch
    * ([[graft.functions.CmsAggregator]]) next to the exact counts — the
    * frequency-estimation sibling of q63's KMV cardinality sketch, and
    * like it ENGINE-EXACT: counter indices are md5-derived in SQL
    * (`h_i(t) = md5("i:" + t)[0:4] mod w + i·w`, i < 4, w = 512), so
    * the DuckDB oracle rebuilds the identical d×w counter matrix with a
    * plain GROUP BY and the min-of-row-counters estimates agree
    * integer-for-integer. The CMS guarantee surfaces in the output:
    * `overestimate = estimate − exact` is provably ≥ 0 (and ≤ ε·N with
    * ε = e/w at probability 1−e^−d).
    *
    * Scale shape: the sketch pass is one fixed-16-KiB-buffer typed
    * aggregation with map-side partial reduce — O(partitions·d·w) bytes
    * shuffle regardless of corpus size, vs the exact group-by's
    * O(vocabulary). The exact side here exists only to EXHIBIT the
    * error bound; a 100 TB run keeps just the sketch (plus q51's
    * bounded top-k for candidate heavy hitters).
    */
  val q71CmsHeavyHitters = Q(
    "q71_cms_heavy_hitters",
    (s, dir) => {
      import graft.functions.CmsAggregator
      val d = 4
      val w = 512
      val idxSql = (0 until d)
        .map(i => s"(cast(conv(substring(md5(concat('$i:', t)), 1, 4), 16, 10) as int) % $w) + ${i * w}")
        .mkString("array(", ", ", ")")
      val toks = T.documentsSpread(s, dir)
        .select(explode(expr(toksSql)).as("t"))
        .filter(col("t") =!= "")
      val sketch = {
        import s.implicits._
        toks.select(expr(idxSql).as("idxs"))
          .as[Seq[Int]]
          .select(new CmsAggregator(d, w).toColumn.name("cms"))
          .toDF("cms")
      }
      val exact = toks.groupBy(col("t")).agg(count(lit(1)).as("exact"))
        .orderBy(col("exact").desc, col("t")).limit(10)
      exact.crossJoin(sketch)
        .withColumn("cms_estimate",
          expr(s"array_min(transform($idxSql, j -> element_at(cms, j + 1)))"))
        .select(col("t").as("token"), col("exact"), col("cms_estimate"),
          (col("cms_estimate") - col("exact")).as("overestimate"))
        .orderBy(col("exact").desc, col("token"))
    },
    Some(s"""
      WITH toks AS (
        SELECT t
        FROM (SELECT unnest($oracleToksSql) AS t FROM documents)
        WHERE t <> ''),
      occ AS (
        SELECT (('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' || t), 1, 4))::INT % 512)
                 + g.i * 512 AS j
        FROM toks CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) g),
      counters AS (SELECT j, CAST(COUNT(*) AS BIGINT) AS c FROM occ GROUP BY j),
      exact AS (
        SELECT t, CAST(COUNT(*) AS BIGINT) AS exact FROM toks
        GROUP BY t ORDER BY exact DESC, t LIMIT 10),
      ix AS (
        SELECT e.t, (('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' || e.t), 1, 4))::INT % 512)
                 + g.i * 512 AS j
        FROM exact e CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) g),
      est AS (
        SELECT ix.t, MIN(c.c) AS cms FROM ix
        JOIN counters c ON c.j = ix.j GROUP BY ix.t)
      SELECT e.t AS token, e.exact, est.cms AS cms_estimate,
        est.cms - e.exact AS overestimate
      FROM exact e JOIN est ON est.t = e.t
      ORDER BY exact DESC, token""".stripMargin),
    "Count-Min heavy hitters: fixed-16KiB mergeable counter matrix (typed Aggregator, map-side partial reduce — O(partitions*d*w) shuffle vs O(vocabulary)); md5-derived indices make the sketch engine-exact, overestimate >= 0 surfaced per token")

  // ---------------------------------------------------------------------
  // q110 — snapshot MERGE (CDC upsert/delete, the Delta-MERGE shape)
  // ---------------------------------------------------------------------

  /** Corpus snapshot maintenance as one MERGE: apply a change batch
    * (updates, tombstone deletes, inserts) to the base snapshot and
    * emit the next snapshot with a per-row action tag — the
    * incremental-corpus operation between crawls that q68 (membership
    * probe) detects the need for. The change batch is derived
    * DETERMINISTICALLY from the corpus so the oracle sees identical
    * inputs: doc_id ≡ 0 (mod 3) → metadata update (+7 chars), ≡ 1
    * (mod 5) → tombstone, and a synthetic insert stream at
    * doc_id + 10⁶ for ≡ 0 (mod 97). Update-before-delete precedence
    * mirrors MERGE's WHEN-clause ordering and is pinned in the spec.
    *
    * Spark rendering: one full-outer hash join on doc_id + one CASE
    * projection — the exact logical shape Delta/Iceberg MERGE lowers
    * to, minus their file-level pruning (a layout concern: bucketing
    * and file compaction at write time). Keyed, linear, no driver
    * involvement; the tombstone filter happens in the same projection,
    * so the plan is scan → join → project with nothing corpus-sized
    * recomputed.
    */
  val q110SnapshotMerge = Q(
    "q110_snapshot_merge",
    (s, dir) => {
      val base = T.documentsSpread(s, dir)
        .select(col("doc_id"), col("source"), col("n_chars").cast("long").as("n_chars"))
      val updates = base.filter(col("doc_id") % 3 === 0)
        .select(col("doc_id"), (col("n_chars") + 7).as("u_chars"))
      val deletes = base.filter(col("doc_id") % 5 === 1)
        .select(col("doc_id"), lit(1).as("tomb"))
      val inserts = base.filter(col("doc_id") % 97 === 0)
        .select((col("doc_id") + 1000000L).as("doc_id"),
          col("source"), col("n_chars").as("i_chars"))
      val changes = updates
        .join(deletes, Seq("doc_id"), "full_outer")
        .join(inserts.select(col("doc_id"), col("i_chars")), Seq("doc_id"), "full_outer")
      base.join(changes, Seq("doc_id"), "full_outer")
        .join(inserts.select(col("doc_id"), col("source").as("i_source")),
          Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("source"), col("i_source")).as("source"),
          when(col("i_chars").isNotNull, col("i_chars"))
            .when(col("u_chars").isNotNull, col("u_chars"))
            .otherwise(col("n_chars")).as("n_chars"),
          when(col("i_chars").isNotNull, lit("inserted"))
            .when(col("u_chars").isNotNull, lit("updated"))
            .when(col("tomb").isNotNull, lit("deleted"))
            .otherwise(lit("kept")).as("action"))
        .filter(col("action") =!= "deleted")
        .orderBy(col("doc_id"))
    },
    Some("""
      WITH base AS (
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents),
      u AS (SELECT doc_id, n_chars + 7 AS u_chars FROM base WHERE doc_id % 3 = 0),
      d AS (SELECT doc_id, 1 AS tomb FROM base WHERE doc_id % 5 = 1),
      ins AS (
        SELECT doc_id + 1000000 AS doc_id, source, n_chars AS i_chars
        FROM base WHERE doc_id % 97 = 0),
      m AS (
        SELECT COALESCE(b.doc_id, u.doc_id, d.doc_id, i.doc_id) AS doc_id,
          COALESCE(b.source, i.source) AS source,
          CASE WHEN i.i_chars IS NOT NULL THEN i.i_chars
               WHEN u.u_chars IS NOT NULL THEN u.u_chars
               ELSE b.n_chars END AS n_chars,
          CASE WHEN i.i_chars IS NOT NULL THEN 'inserted'
               WHEN u.u_chars IS NOT NULL THEN 'updated'
               WHEN d.tomb IS NOT NULL THEN 'deleted'
               ELSE 'kept' END AS action
        FROM base b
        FULL OUTER JOIN u ON u.doc_id = b.doc_id
        FULL OUTER JOIN d ON d.doc_id = COALESCE(b.doc_id, u.doc_id)
        FULL OUTER JOIN ins i ON i.doc_id = COALESCE(b.doc_id, u.doc_id, d.doc_id))
      SELECT doc_id, source, n_chars, action FROM m
      WHERE action <> 'deleted' ORDER BY doc_id""".stripMargin),
    "snapshot MERGE: one full-outer doc_id hash join + CASE projection applying updates/tombstones/inserts with MERGE-clause precedence — the Delta/Iceberg upsert shape, keyed and linear; layout-level file pruning is a write-time layout concern (bucketing, compaction)")

  // ---------------------------------------------------------------------
  // q72 — near-dup cluster resolution (connected components)
  // ---------------------------------------------------------------------

  /** Dedup CLUSTER resolution — the step q32/q33/q42 stop short of:
    * near-dup PAIRS are only half the dedup story; keeping one
    * representative per duplicate GROUP needs the connected components
    * of the pair graph (pairs (a,b),(b,c) must collapse to ONE cluster
    * {a,b,c} even though (a,c) was never emitted). Components come from
    * [[graft.ops.ConnectedComponents]]'s large-star/small-star
    * contraction: O(log n) rounds regardless of component diameter, so
    * a crawl-scale graph with chain-shaped mirror clusters costs the
    * same round count as a dense one. Every vertex is labeled with its
    * component minimum.
    *
    * The oracle is DuckDB's RECURSIVE CTE computing min reachable
    * label over the same pair graph — transitive closure, a genuinely
    * independent formulation of connectivity (no iteration-count
    * parameter to accidentally share). Output: one row per clustered
    * doc group — representative (min doc_id), size, '|'-joined members.
    */
  val q72DupClusters = Q(
    "q72_dup_clusters",
    (s, dir) => {
      // No eager pair checkpoint: the contraction's canonical edge frame
      // ends in a distinct, so every round-1 branch reads that one
      // shuffle and the LSH generation runs once, inside round 1's
      // action.
      val pairs = LlmOps.nearDupPairs(s, dir)
        .select(col("id_a"), col("id_b"))
      graft.ops.ConnectedComponents.largeStarSmallStar(pairs)
        .groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("n_docs"),
          array_join(sort_array(collect_list(col("v"))), "|").as("members"))
        .orderBy(col("cluster_id"))
    },
    Some(s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id,
          list_distinct(list_transform(generate_series(1, len(toks)-2),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, $oracleToksSql toks FROM documents)
        WHERE len(toks) >= 3),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
      e AS (
        SELECT id_a AS v, id_b AS u FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      reach(v, u) AS (
        SELECT v, u FROM e
        UNION
        SELECT r.v, e.u FROM reach r JOIN e ON e.v = r.u),
      lbl AS (
        SELECT v, LEAST(v, MIN(u)) AS lbl FROM reach GROUP BY v)
      SELECT lbl AS cluster_id, COUNT(*) AS n_docs,
        array_to_string(list_sort(array_agg(v)), '|') AS members
      FROM lbl GROUP BY lbl ORDER BY cluster_id""".stripMargin),
    "near-dup cluster resolution: large-star/small-star contraction (ops.ConnectedComponents, O(log n) rounds regardless of diameter, per-round shuffles over a shrinking edge set) over the near-dup pair graph (LlmOps.nearDupPairs: q33 LSH generation, ≡ q32 exact) vs a DuckDB recursive-CTE transitive closure — completes pairs -> clusters -> representative dedup")

  // ---------------------------------------------------------------------
  // q111 — q72's dup clusters under the star-contraction name
  // ---------------------------------------------------------------------

  /** q72 under its second registry name: one builder and one oracle,
    * both names kept in the driver contract.
    */
  val q111StarClusters = Q(
    "q111_star_clusters",
    q72DupClusters.fn,
    q72DupClusters.oracle,
    "near-dup clusters via O(log n) large-star/small-star contraction — q72's builder and recursive-CTE oracle under the name the star-contraction twin was registered with")

  // ---------------------------------------------------------------------
  // q73 — intra-document repetition filter (Gopher-style)
  // ---------------------------------------------------------------------

  /** The REPETITION half of quality filtering (q62 covers the surface
    * ratios): Gopher's within-document repetition signals (Rae et al.,
    * "Scaling Language Models: ... Gopher", 2021, Table A1 — top n-gram
    * fraction, duplicate n-gram fraction) — repeated boilerplate is the
    * dominant failure mode of crawled training text that per-corpus
    * dedup can't see. Metrics: most-frequent-token fraction,
    * most-frequent-bigram fraction, duplicate-token fraction; keep
    * verdict thresholds chosen to split this corpus (both branches
    * fire). All ratios are exact-int divisions — bit-identical.
    *
    * Scale shape: explode → (doc_id, gram) hash count → (doc_id) max —
    * two doc_id-keyed shuffles, every operator whole-stage-codegen.
    * The tempting zero-shuffle alternative (per-row
    * most-frequent-element via nested `transform`/`filter` HOFs) is
    * O(len·distinct) per row in INTERPRETED lambda eval and measured
    * 25× slower at sf0.1 (150 s vs 6 s) — per-row HOF chains don't
    * codegen, so linear-work exploded hash aggs win despite the
    * shuffles. Both grams ride one stored tokenized scan.
    */
  val q73RepetitionFilter = Q(
    "q73_repetition_filter",
    (s, dir) => {
      val base = Stored.checkpoint(T.documentsSpread(s, dir)
        .select(col("doc_id"),
          expr(s"filter($toksSql, t -> t <> '')").as("ts"))
        .filter(size(col("ts")) >= 3)).df
      val tokStats = base.select(col("doc_id"), explode(col("ts")).as("t"))
        .groupBy(col("doc_id"), col("t")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id"))
        .agg(sum(col("c")).cast("int").as("n_toks"),
          max(col("c")).as("top_c"),
          count(lit(1)).as("n_distinct"))
      val biStats = base
        .select(col("doc_id"),
          explode(graft.functions.GraftFunctions.ngrams(col("ts"), 2)).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
        .groupBy(col("doc_id")).agg(max(col("c")).as("top_bi_c"))
      tokStats.join(biStats, "doc_id")
        .select(col("doc_id"), col("n_toks"),
          (col("top_c").cast("double") / col("n_toks")).as("top_token_frac"),
          (col("top_bi_c").cast("double") / (col("n_toks") - 1)).as("top_bigram_frac"),
          ((col("n_toks") - col("n_distinct")).cast("double") / col("n_toks"))
            .as("dup_token_frac"))
        .withColumn("keep",
          col("top_token_frac") < 0.1 && col("top_bigram_frac") < 0.08 &&
            col("dup_token_frac") < 0.6)
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      m AS (
        SELECT doc_id, ts,
          list_transform(generate_series(1, len(ts) - 1),
            i -> ts[i] || ' ' || ts[i+1]) AS bi
        FROM d WHERE len(ts) >= 3)
      SELECT doc_id,
        CAST(len(ts) AS INTEGER) AS n_toks,
        CAST(list_max(list_transform(list_distinct(ts),
          x -> len(list_filter(ts, t -> t = x)))) AS DOUBLE) / len(ts)
          AS top_token_frac,
        CAST(list_max(list_transform(list_distinct(bi),
          x -> len(list_filter(bi, b -> b = x)))) AS DOUBLE) / (len(ts) - 1)
          AS top_bigram_frac,
        CAST(len(ts) - len(list_distinct(ts)) AS DOUBLE) / len(ts)
          AS dup_token_frac,
        (CAST(list_max(list_transform(list_distinct(ts),
           x -> len(list_filter(ts, t -> t = x)))) AS DOUBLE) / len(ts) < 0.1)
          AND (CAST(list_max(list_transform(list_distinct(bi),
           x -> len(list_filter(bi, b -> b = x)))) AS DOUBLE) / (len(ts) - 1) < 0.08)
          AND (CAST(len(ts) - len(list_distinct(ts)) AS DOUBLE) / len(ts) < 0.6)
          AS keep
      FROM m ORDER BY doc_id""".stripMargin),
    "Gopher-style repetition filter: top-token/top-bigram/duplicate-token fractions per doc + keep verdict — zero-shuffle per-row map, exact-int ratios; the within-doc complement to corpus-level dedup")

  // ---------------------------------------------------------------------
  // q74 — Z-order (Morton) clustering key
  // ---------------------------------------------------------------------

  /** Z-order clustering keys over (user, value-bucket) — the
    * computation behind a Z-ordered multi-dimensional file layout
    * (Delta/Iceberg `OPTIMIZE ZORDER BY`: a write range-partitioned and
    * sorted on z gets balanced per-file bounding boxes, so min/max stats
    * prune selective predicates on either dimension).
    * This query pins the BIT MATH: the native
    * [[graft.functions.ZOrderKernel.interleave16]] computes the Morton code with
    * magic-mask parallel spreads in whole-stage codegen, while the
    * DuckDB oracle interleaves all 32 bits the naive way — an unrolled
    * Σᵢ ((x≫i)&1)≪2i + ((y≫i)&1)≪(2i+1) — so the two engines agree
    * integer-for-integer through completely different formulations.
    * ZOrderSpec adds the kernel's prefix property and codegen path.
    */
  val q74Zorder = Q(
    "q74_zorder",
    (s, dir) => {
      val xd = (col("user_id") % 65536).cast("int")
      val yd = floor(col("value")).cast("int") % 65536
      T.events(s, dir)
        .filter(col("event_id") < 500)
        .select(col("event_id"), xd.as("xd"), yd.as("yd"))
        .withColumn("z", graft.functions.GraftFunctions.zorder2(col("xd"), col("yd")))
        .orderBy(col("event_id"))
    },
    Some {
      val terms = (0 until 16).map(i =>
        s"(((CAST(xd AS BIGINT) >> $i) & 1) << ${2 * i}) + " +
          s"(((CAST(yd AS BIGINT) >> $i) & 1) << ${2 * i + 1})")
        .mkString(" + ")
      s"""
      WITH d AS (
        SELECT event_id,
          CAST(user_id % 65536 AS INTEGER) AS xd,
          CAST(FLOOR(value) AS INTEGER) % 65536 AS yd
        FROM events WHERE event_id < 500)
      SELECT event_id, xd, yd, CAST($terms AS BIGINT) AS z
      FROM d ORDER BY event_id""".stripMargin
    },
    "Z-order (Morton) clustering key: native magic-mask interleave expression (codegen) vs a naive 32-term unrolled bit oracle; the compute half of a Z-ordered multi-dim file-skipping layout")

  // ---------------------------------------------------------------------
  // q77 — eval-set decontamination (n-gram overlap)
  // ---------------------------------------------------------------------

  /** Benchmark decontamination — the asymmetric cousin of dedup every
    * LLM data pipeline runs before training (cf. the 13-gram overlap
    * filters described in GPT-3, Brown et al. 2020 §C, and PaLM): find
    * training documents sharing any 5-token shingle with a (small) eval
    * probe set, so test data can be quarantined from the training
    * corpus. Here docs 0-9 stand in for the eval set; output is the
    * per-document contamination report (distinct shared shingles, doc
    * shingle count, share fraction as an exact-int division).
    *
    * Scale shape — what makes this NOT q32: the probe side is tiny
    * relative to a 100 TB corpus, so its distinct shingle set is
    * BROADCAST and the corpus side does one explode → broadcast-hash
    * semi-probe → per-doc count, with no corpus self-join and no
    * corpus-side shuffle except the final per-doc agg (keyed on
    * doc_id, pre-aggregated map-side). A probe set too big to
    * broadcast falls back to a shuffled join keyed on a shingle HASH
    * (16 bytes, not the text), same semantics.
    */
  val q77Decontaminate = Q(
    "q77_decontaminate",
    (s, dir) => {
      // native codegen shingling — the interpreted HOF formulation
      // (transform(sequence)+concat_ws lambdas) measured ~10 s of this
      // query's sf0.1 scan; byte-identical output (NGramKernel doc)
      val g = T.documentsSpread(s, dir)
        .select(col("doc_id"), expr(s"filter($toksSql, t -> t <> '')").as("ts"))
        .filter(size(col("ts")) >= 5)
        .select(col("doc_id"),
          array_distinct(graft.functions.GraftFunctions.ngrams(col("ts"), 5))
            .as("grams"))
      val evalGrams = g.filter(col("doc_id") < 10)
        .select(explode(col("grams")).as("g")).distinct()
      val train = g.filter(col("doc_id") >= 10)
        .select(col("doc_id"), size(col("grams")).as("n_grams"),
          explode(col("grams")).as("g"))
      train.join(evalGrams, "g")
        .groupBy(col("doc_id"), col("n_grams"))
        .agg(count(lit(1)).as("n_shared"))
        .select(col("doc_id"), col("n_shared"), col("n_grams"),
          (col("n_shared").cast("double") / col("n_grams")).as("share_frac"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      g AS (
        SELECT doc_id,
          list_distinct(list_transform(generate_series(1, len(ts) - 4),
            i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
                 ts[i+3] || ' ' || ts[i+4])) AS grams
        FROM d WHERE len(ts) >= 5),
      ev AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id < 10),
      tr AS (
        SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gr
        FROM g WHERE doc_id >= 10)
      SELECT tr.doc_id, COUNT(*) AS n_shared,
        CAST(tr.n_grams AS INTEGER) AS n_grams,
        CAST(COUNT(*) AS DOUBLE) / tr.n_grams AS share_frac
      FROM tr JOIN ev ON tr.gr = ev.gr
      GROUP BY tr.doc_id, tr.n_grams ORDER BY tr.doc_id""".stripMargin),
    "eval-set decontamination: 5-gram overlap of the corpus against a broadcast probe-shingle set — one explode + broadcast semi-probe + doc_id agg, no corpus self-join; the asymmetric dedup every training pipeline runs before training")

  // ---------------------------------------------------------------------
  // q78 — token-budget sequence packing (shard planning)
  // ---------------------------------------------------------------------

  /** Training-shard planning: assign documents to fixed-token-budget
    * shards (budget 4096 here) in a deterministic order, and report
    * each shard's fill — the packing step between "curated corpus" and
    * "training shards" (the streaming-order analogue of sequence
    * packing). A doc goes to the shard where its first token lands:
    * shard = ⌊(prefix_sum − n) / B⌋ over the doc_id order — pure
    * integer arithmetic, so assignment is reproducible like q67's
    * split (same principle: layout must be a function of the data, not
    * of the run).
    *
    * Scale shape: routed through [[graft.ops.ShardPacking]]'s two-pass
    * block-decomposed prefix sum — per-(source, block) subtotals (a
    * plain parallel hash agg), an exclusive running sum over the tiny
    * block-aggregate frame, then a bounded in-block window — so no
    * single task ever sees more than `blockSpan` rows of one source.
    * The naive `Window.partitionBy(source).orderBy(doc_id)` form this
    * replaced serialized each source's ENTIRE corpus through one
    * window task; ShardPackingSpec pins bit-equality of the two forms.
    * Arithmetic is pure integer `div` (not `/`-then-cast, which
    * diverges above ~2^53 cumulative tokens).
    */
  val q78TokenPacking = Q(
    "q78_token_packing",
    (s, dir) => {
      val docs = T.documentsSpread(s, dir)
        .select(col("source"), col("doc_id"),
          expr(s"size(filter($toksSql, t -> t <> ''))").as("n"))
      graft.ops.ShardPacking
        .assignShards(docs, "source", "doc_id", "n", budget = 4096L)
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).cast("bigint").as("n_tokens"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("shard_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT source, doc_id,
          len(list_filter($oracleToksSql, t -> t <> '')) AS n
        FROM documents),
      a AS (
        SELECT source, doc_id, n,
          CAST((SUM(n) OVER (PARTITION BY source ORDER BY doc_id
                             ROWS UNBOUNDED PRECEDING) - n) // 4096
               AS BIGINT) AS shard_id
        FROM d)
      SELECT source, shard_id, COUNT(*) AS n_docs,
        CAST(SUM(n) AS BIGINT) AS n_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM a GROUP BY source, shard_id ORDER BY source, shard_id""".stripMargin),
    "token-budget shard packing via the two-pass block-decomposed prefix sum (ops.ShardPacking): reproducible integer-div assignment, no single-task-per-source window, + shard fill report")

  // ---------------------------------------------------------------------
  // q80 — reproducible per-group eval carve-out
  // ---------------------------------------------------------------------

  /** Fixed-quota eval-set selection: the 3 docs per language whose
    * md5(doc_id) sorts first — the per-group QUOTA form of q67's
    * hash-membership principle (q67 gives proportional splits; an eval
    * set usually wants exactly-k per stratum). Selection is a pure
    * function of the data — stable across runs, partitioning, and
    * cluster size (the property the df.sample(seed) negative test in
    * TrainingOpsSpec shows seeded sampling lacks) — and documents the
    * deterministic tie-break (hash, then doc_id).
    *
    * Scale: one shuffle keyed on lang; with a bounded quota the window
    * form is fine, and the bounded-memory path for huge groups is
    * q51's TopKAggregator keyed on the hash (k rows per group per
    * partition shuffle), same contract.
    */
  val q80EvalCarveout = Q(
    "q80_eval_carveout",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("lang"))
        .orderBy(col("h"), col("doc_id"))
      T.documentsSpread(s, dir)
        .select(col("lang"), col("doc_id"), col("n_chars"),
          md5(col("doc_id").cast("string")).as("h"))
        .withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 3)
        .select(col("lang"), col("rank"), col("doc_id"),
          col("n_chars").cast("long").as("n_chars"))
        .orderBy(col("lang"), col("rank"))
    },
    Some("""
      SELECT lang, CAST(rank AS INTEGER) AS rank, doc_id,
        CAST(n_chars AS BIGINT) AS n_chars
      FROM (
        SELECT lang, doc_id, n_chars,
          ROW_NUMBER() OVER (PARTITION BY lang
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rank
        FROM documents)
      WHERE rank <= 3 ORDER BY lang, rank""".stripMargin),
    "reproducible per-language eval carve-out: exactly-k-per-stratum by md5(doc_id) order — quota form of q67's hash membership, stable under any partitioning; TopKAggregator is the bounded-memory path for huge strata")

  // ---------------------------------------------------------------------
  // q100 — fixed-token-window chunking with stride
  // ---------------------------------------------------------------------

  /** Split every document into overlapping fixed-token context windows
    * (window = 64 tokens, stride = 48 → 16-token overlap) — the
    * chunking pass that turns a raw corpus into training examples for a
    * fixed-context model, and the op q78's shard packer consumes
    * downstream (pack CHUNKS, not ragged documents). Emits one row per
    * chunk: (doc_id, chunk_start, n_chunk_toks, chunk_text).
    *
    * Semantics pinned cross-engine: chunk starts are
    * `sequence(0, n-1, stride)` (Spark) ≡ `range(0, n, stride)`
    * (DuckDB) — every token position is covered because stride ≤
    * window, and each chunk is the window clipped to the doc end:
    * `len = min(window, n - start)`. With window > stride the last TWO
    * chunks can both be short (n=100 → 64, 52, 4); nothing is padded
    * or dropped. TrainingOpsSpec pins the grid, the clip law, and the
    * full-chunk overlap width against independently recomputed counts.
    *
    * Scale shape: a pure per-row generator — tokenize once, explode
    * the start offsets, `slice` the shared token array per start. No
    * shuffle at all except the deterministic output sort the oracle
    * compare needs (a real pipeline writes chunks unsorted). Chunk
    * count is ceil(n/stride) per doc, so output rows are linear in
    * corpus tokens; the explode never materializes per-chunk copies of
    * the token array in the shuffle because everything from tokenize
    * to chunk_text sits in one projection inside the same stage.
    */
  val q100ChunkWindows = Q(
    "q100_chunk_windows",
    (s, dir) => {
      val toks = T.documentsSpread(s, dir)
        .select(col("doc_id"), expr(s"filter($toksSql, t -> t <> '')").as("toks"))
        .withColumn("n", size(col("toks")))
        .filter(col("n") > 0)
      toks
        .select(col("doc_id"), col("toks"),
          explode(expr("sequence(0, n - 1, 48)")).as("chunk_start"))
        .select(col("doc_id"),
          col("chunk_start").cast("int").as("chunk_start"),
          size(expr("slice(toks, chunk_start + 1, 64)")).as("n_chunk_toks"),
          array_join(expr("slice(toks, chunk_start + 1, 64)"), " ").as("chunk_text"))
        .orderBy(col("doc_id"), col("chunk_start"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS toks
        FROM documents),
      s AS (SELECT doc_id, toks, len(toks) AS n FROM d WHERE len(toks) > 0),
      c AS (SELECT doc_id, toks,
              UNNEST(range(0, n, 48)) AS chunk_start FROM s)
      SELECT doc_id, CAST(chunk_start AS INTEGER) AS chunk_start,
        CAST(len(list_slice(toks, chunk_start + 1, chunk_start + 64)) AS INTEGER)
          AS n_chunk_toks,
        array_to_string(list_slice(toks, chunk_start + 1, chunk_start + 64), ' ')
          AS chunk_text
      FROM c ORDER BY doc_id, chunk_start""".stripMargin),
    "fixed-context chunking (window 64, stride 48): tokenize-once + offset explode + shared-array slice, zero-shuffle per-row generator; tail chunks kept short, coverage/overlap spec-pinned")

  // ---------------------------------------------------------------------
  // q101 — chunk → shard packing (q100 composed with q78's packer)
  // ---------------------------------------------------------------------

  /** The end-to-end pretraining layout pass: q100's fixed-context
    * chunks packed into 512-token shards per source (sized so shard boundaries are exercised at every gate SF) through
    * [[graft.ops.ShardPacking]] — pack CHUNKS, not ragged documents,
    * exactly the composition q100's doc promises. Per (source, shard):
    * chunk count, token fill, and the doc range it spans.
    *
    * The packer needs ONE numeric order key unique per row within a
    * source; chunks are ordered by (doc_id, chunk_start), encoded as
    * `doc_id · 2²⁰ + chunk_start` (valid while docs stay under 2²⁰ =
    * ~1M tokens — far above any sane context pipeline's doc cap; a
    * corpus violating it would widen the shift). blockSpan 2³⁰ groups
    * ~1024 docs per prefix-sum block, keeping the broadcast offsets
    * table ~1024× smaller than the doc count.
    *
    * Scale shape: chunk token counts are ARITHMETIC here —
    * `least(64, n - start)` — so unlike q100 no chunk text or token
    * array ever materializes; the packer sees only (source, ord, nc).
    * Two keyed shuffles (block subtotals, block-keyed running sum) +
    * the broadcast offsets join + one final source-keyed agg. No
    * single-task-per-source stage anywhere.
    */
  val q101ChunkPacking = Q(
    "q101_chunk_packing",
    (s, dir) => {
      val chunks = T.documentsSpread(s, dir)
        .select(col("source"), col("doc_id"),
          expr(s"size(filter($toksSql, t -> t <> ''))").as("n"))
        .filter(col("n") > 0)
        .select(col("source"), col("doc_id"), col("n"),
          explode(expr("sequence(0, n - 1, 48)")).as("chunk_start"))
        .select(col("source"), col("doc_id"),
          least(lit(64), col("n") - col("chunk_start")).cast("long").as("nc"),
          // BOTH halves of the encoding contract, enforced: a chunk_start
          // past 2^20 would bleed into doc_id+1's key range, and a doc_id
          // at or past 2^43 overflows Long under the <<20 shift — either
          // silently scrambles per-source packing order, so fail the job
          // instead (assert woven into the expression so it cannot be
          // pruned)
          (col("doc_id") * (1L << 20) +
            when(assert_true(
              col("chunk_start") < (1L << 20) && col("doc_id") < (1L << 43),
              lit("q101: doc exceeds the 2^20-token ord-encoding cap " +
                "or doc_id exceeds the 2^43 id cap")).isNull,
              col("chunk_start"))).as("ord"))
      graft.ops.ShardPacking.assignShards(chunks, "source", "ord", "nc",
          budget = 512L, blockSpan = 1L << 30)
        .groupBy(col("source"), col("shard_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("nc")).cast("bigint").as("n_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy(col("source"), col("shard_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT source, doc_id,
          len(list_filter($oracleToksSql, t -> t <> '')) AS n
        FROM documents),
      s AS (SELECT source, doc_id, n FROM d WHERE n > 0),
      c AS (SELECT source, doc_id, n,
              UNNEST(range(0, n, 48)) AS chunk_start FROM s),
      a AS (
        SELECT source, doc_id,
          LEAST(64, n - chunk_start) AS nc,
          CAST((SUM(LEAST(64, n - chunk_start)) OVER (
              PARTITION BY source ORDER BY doc_id, chunk_start
              ROWS UNBOUNDED PRECEDING) - LEAST(64, n - chunk_start)) // 512
            AS BIGINT) AS shard_id
        FROM c)
      SELECT source, shard_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        CAST(SUM(nc) AS BIGINT) AS n_tokens,
        MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
      FROM a GROUP BY source, shard_id
      ORDER BY source, shard_id""".stripMargin),
    "chunk->shard packing: q100's stride-grid chunks (token counts arithmetic, no text materialized) packed into 512-token shards via the two-pass block prefix sum; oracle re-derives the assignment with one running-sum window over (doc_id, chunk_start)")

  // ---------------------------------------------------------------------
  // q102 — hash-shuffled packing (deterministic global shuffle + shard)
  // ---------------------------------------------------------------------

  /** q101 with the packing order PSEUDO-RANDOMIZED: chunks are packed
    * in md5-hash order instead of corpus order — the deterministic
    * global shuffle a pretraining pipeline runs so consecutive shards
    * don't serve consecutive (correlated) corpus regions. Same
    * reproducibility argument as q67: the order is a pure function of
    * the data, stable across runs/partitioning/cluster size, where a
    * `rand(seed)` shuffle is not. Packing is GLOBAL here (one source
    * stream), so the report adds the decorrelation evidence: distinct
    * sources and docs per shard (corpus-ordered packing would give ~1
    * source per shard; shuffled gives many).
    *
    * The order key is the leading 60 bits of md5(doc_id:chunk_start) —
    * unique on gate data (collision odds ~n²/2⁶¹); at corpus scales
    * where 60 bits can collide, widen the key with the natural
    * tiebreak (hash, doc_id, chunk_start) — ties only perturb which of
    * two chunks lands at a shard seam, not the shard fill math.
    * blockSpan divides the uniform hash domain into 2¹⁰ blocks, so
    * the two-pass prefix sum parallelizes over near-equal slices.
    *
    * Scale shape: identical to q101 (arithmetic chunk metadata only)
    * plus one hash per chunk; the global-order window never
    * materializes — ShardPacking's block decomposition applies to the
    * hash domain exactly as it does to doc ids.
    */
  val q102ShuffledPacking = Q(
    "q102_shuffled_packing",
    (s, dir) => {
      val chunks = T.documentsSpread(s, dir)
        .select(col("source"), col("doc_id"),
          expr(s"size(filter($toksSql, t -> t <> ''))").as("n"))
        .filter(col("n") > 0)
        .select(col("source"), col("doc_id"), col("n"),
          explode(expr("sequence(0, n - 1, 48)")).as("chunk_start"))
        .select(col("source"), col("doc_id"),
          least(lit(64), col("n") - col("chunk_start")).cast("long").as("nc"),
          expr("cast(conv(substring(md5(concat(cast(doc_id as string), ':', " +
            "cast(chunk_start as string))), 1, 15), 16, 10) as bigint)").as("ord"))
        .withColumn("stream", lit("all"))
      graft.ops.ShardPacking.assignShards(chunks, "stream", "ord", "nc",
          budget = 512L, blockSpan = 1L << 50)
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_chunks"),
          sum(col("nc")).cast("bigint").as("n_tokens"),
          countDistinct(col("source")).as("n_sources"),
          countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("shard_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT source, doc_id,
          len(list_filter($oracleToksSql, t -> t <> '')) AS n
        FROM documents),
      s AS (SELECT source, doc_id, n FROM d WHERE n > 0),
      c AS (SELECT source, doc_id, n,
              UNNEST(range(0, n, 48)) AS chunk_start FROM s),
      h AS (
        SELECT source, doc_id,
          LEAST(64, n - chunk_start) AS nc,
          ('0x' || substr(md5(CAST(doc_id AS VARCHAR) || ':' ||
             CAST(chunk_start AS VARCHAR)), 1, 15))::BIGINT AS ord
        FROM c),
      a AS (
        SELECT source, doc_id, nc,
          CAST((SUM(nc) OVER (ORDER BY ord
              ROWS UNBOUNDED PRECEDING) - nc) // 512 AS BIGINT) AS shard_id
        FROM h)
      SELECT shard_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        CAST(SUM(nc) AS BIGINT) AS n_tokens,
        CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs
      FROM a GROUP BY shard_id ORDER BY shard_id""".stripMargin),
    "hash-shuffled packing: chunks packed in deterministic md5 order (reproducible global shuffle, no rand(seed) order dependence) via the same two-pass block prefix sum over the hash domain; per-shard source/doc mixing reported as the decorrelation evidence")

  // ---------------------------------------------------------------------
  // q115 — exact substring-duplication coverage (ExactSubstr dedup)
  // ---------------------------------------------------------------------

  /** Substring-LEVEL dedup — the third granularity after whole-doc
    * (q29) and whole-doc-near (q32/q33/...): what fraction of each
    * document's token 6-gram POSITIONS also occur verbatim in some
    * OTHER document. Lee et al. 2022 ("Deduplicating Training Data
    * Makes Language Models Better") show this cross-doc repeated-span
    * mass — boilerplate, licenses, quoted passages — is what doc-level
    * dedup cannot see and substring dedup should cut; their ExactSubstr
    * uses a corpus suffix array, which is inherently single-machine.
    * The distributed rendering here is the standard k-gram inverted
    * index: a span duplicated across docs with length ≥ k contributes
    * every one of its k-gram positions, so per-doc duplicated-position
    * coverage equals duplicated-span coverage up to k-1 tokens of edge
    * resolution — and candidate generation stays KEYED (gram hash),
    * never all-pairs, never suffix-sorted.
    *
    * Scale shape: tokenized scan → explode 6-gram xxhash64 keys (the
    * shuffle moves 8-byte hashes, never gram text) → per-(gram,doc)
    * count (map-side combinable; also the dedup for the distinct-doc
    * test) → gram-keyed filter ndocs ≥ 2 → doc-keyed sum joined back
    * to the doc spine. Per-gram fanout after the pre-aggregation is
    * bounded by document count, not occurrence count, so a
    * corpus-universal gram (a stop-phrase) cannot produce a hot key
    * larger than the doc count. Only within-doc repeats of a gram
    * never seen elsewhere stay "unique" — within-doc repetition is
    * q73's axis. The oracle groups by the gram STRING; Spark groups by
    * its xxhash64 (a collision needs ~2^32 distinct grams corpus-wide
    * to be likely; at that scale the 64-bit risk is the same one the
    * whole minhash family already carries). The verdict is the exact
    * integer comparison 2·dup ≥ n, so no float threshold crosses the
    * engine boundary; dup_frac itself is a single exact-int division.
    */
  val q115SubstringDup = Q(
    "q115_substring_dup",
    (s, dir) => {
      val k = 6
      // stored: the (gram, doc) frame feeds two branches (the
      // distinct-doc filter and the coverage sum), each of which would
      // otherwise derive it. The doc spine needs no second scan: a
      // doc's total gram positions is the sum of its per-gram counts.
      // gram derivation through the codegen NGramKernel — the
      // interpreted transform(sequence)+concat_ws HOF chain is the
      // exact formulation q73's comment measured at ~10 s/scan
      val perDocGram = Stored.checkpoint(T.documentsSpread(s, dir)
        .select(col("doc_id"),
          expr(s"filter($toksSql, t -> t <> '')").as("ts"))
        .filter(size(col("ts")) >= k)
        .select(col("doc_id"),
          explode(graft.functions.GraftFunctions.ngrams(col("ts"), k)).as("g"))
        .select(col("doc_id"), xxhash64(col("g")).as("gh"))
        .groupBy(col("gh"), col("doc_id")).agg(count(lit(1)).as("pos"))).df
      val spine = perDocGram.groupBy(col("doc_id"))
        .agg(sum(col("pos")).as("n_grams"))
      val dupKeys = perDocGram.groupBy(col("gh"))
        .agg(count(lit(1)).as("ndocs"))
        .filter(col("ndocs") >= 2).select("gh")
      val dupPos = perDocGram.join(dupKeys, "gh")
        .groupBy(col("doc_id")).agg(sum(col("pos")).as("dup"))
      spine.join(dupPos, Seq("doc_id"), "left")
        .select(col("doc_id"),
          col("n_grams").cast("int").as("n_grams"),
          coalesce(col("dup"), lit(0L)).cast("int").as("dup_grams"))
        .withColumn("dup_frac",
          col("dup_grams").cast("double") / col("n_grams"))
        .withColumn("trim_doc", col("dup_grams") * 2 >= col("n_grams"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      g AS (
        SELECT doc_id, array_to_string(ts[i:i+5], ' ') AS gram
        FROM d, UNNEST(generate_series(1, len(ts) - 5)) AS u(i)
        WHERE len(ts) >= 6),
      dup AS (
        SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
      per AS (
        SELECT g.doc_id, COUNT(*) AS n_grams,
          SUM(CASE WHEN dup.gram IS NOT NULL THEN 1 ELSE 0 END) AS dup_grams
        FROM g LEFT JOIN dup ON g.gram = dup.gram
        GROUP BY g.doc_id)
      SELECT doc_id,
        CAST(n_grams AS INTEGER) AS n_grams,
        CAST(dup_grams AS INTEGER) AS dup_grams,
        CAST(dup_grams AS DOUBLE) / n_grams AS dup_frac,
        dup_grams * 2 >= n_grams AS trim_doc
      FROM per ORDER BY doc_id""".stripMargin),
    "substring-level dedup coverage (Lee et al. ExactSubstr, k-gram inverted-index rendering): per-doc fraction of token 6-gram positions duplicated verbatim in another doc + integer-exact trim verdict; 8-byte hashed gram keys, per-gram fanout bounded by doc count")

  // ---------------------------------------------------------------------
  // q116 — duplicated-span localization (the substring CUT plan)
  // ---------------------------------------------------------------------

  /** q115 tells which docs carry duplicated mass; this query tells
    * WHERE — the longest contiguous run of duplicated 6-gram positions
    * per document, as (start, length). Lee et al.'s ExactSubstr removes
    * the duplicated SUBSTRING and keeps the rest of the document, so
    * the operator a curation pipeline actually executes needs span
    * boundaries, not a per-doc verdict: a run of L consecutive
    * duplicated gram positions pins a duplicated token span of
    * L + k - 1 tokens starting at the run start.
    *
    * Rendering: duplicated positions (same inverted-index derivation
    * as q115, positions retained) → gaps-and-islands with the
    * row-number difference trick — island id = pos - row_number, a
    * doc-keyed window (never global) — → per-island (length, start) →
    * per-doc argmax with the deterministic tie rule (longest, then
    * leftmost). Every shuffle is gram-hash- or doc-keyed; windows are
    * per-doc sequences bounded by document length.
    */
  /** q116's span derivation as a reusable kernel (q127's cut consumes
    * it): per doc with any cross-doc-duplicated k-gram, the longest
    * contiguous duplicated run as (run_len, run_start, span_tokens),
    * deterministic longest-then-leftmost tie rule. Plan shape
    * documented on q116. */
  private[queries] def dupSpans(s: org.apache.spark.sql.SparkSession,
      dir: String, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // same codegen-kernel gram derivation as q115 (see the comment
    // there), positions retained via posexplode
    val grams = Stored.checkpoint(T.documentsSpread(s, dir)
      .select(col("doc_id"),
        expr(s"filter($toksSql, t -> t <> '')").as("ts"))
      .filter(size(col("ts")) >= k)
      .select(col("doc_id"),
        posexplode(graft.functions.GraftFunctions.ngrams(col("ts"), k)))
      .select(col("doc_id"), (col("pos") + 1).as("i"),
        xxhash64(col("col")).as("gh"))).df
    val dupKeys = grams.groupBy(col("gh"))
      .agg(count_distinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gh")
    val isl = grams.join(dupKeys, "gh")
      .select(col("doc_id"), col("i"))
      .withColumn("isl",
        col("i") - row_number().over(
          Window.partitionBy(col("doc_id")).orderBy(col("i"))))
    val runs = isl.groupBy(col("doc_id"), col("isl"))
      .agg(count(lit(1)).cast("int").as("run_len"),
        min(col("i")).cast("int").as("run_start"))
    // Longest run per doc via max_by (round 21, guide §2.2): both this
    // and the previous row_number window ride the isl window's
    // existing doc_id partitioning (no new exchange either way — the
    // shuffle bytes are identical), but the window form sorted
    // every run row by (run_len, run_start), numbered ALL of them, and
    // filtered to rn=1, where the partial max_by collapses each doc to
    // one row in a single pass (paired A/B: q116 0.89 → 0.77 s, q127
    // 1.04 → 0.85 s at sf0.1). Tie rule matches the window's
    // (run_len DESC, run_start ASC) exactly: max over
    // struct(run_len, −run_start) picks max run_len, then min
    // run_start — and (run_len, run_start) pairs are unique per doc
    // anyway (each token position belongs to one island), so the pick
    // is deterministic under any partitioning.
    runs.groupBy(col("doc_id"))
      .agg(max_by(struct(col("run_len"), col("run_start")),
        struct(col("run_len"), -col("run_start"))).as("m"))
      .select(col("doc_id"), col("m.run_len").as("run_len"),
        col("m.run_start").as("run_start"),
        (col("m.run_len") + (k - 1)).as("span_tokens"))
  }

  val q116DupSpanLocalize = Q(
    "q116_dup_span_localize",
    (s, dir) => dupSpans(s, dir, 6).orderBy(col("doc_id")),
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      g AS (
        SELECT doc_id, i, array_to_string(ts[i:i+5], ' ') AS gram
        FROM d, UNNEST(generate_series(1, len(ts) - 5)) AS u(i)
        WHERE len(ts) >= 6),
      dup AS (
        SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
      dp AS (SELECT g.doc_id, g.i FROM g JOIN dup ON g.gram = dup.gram),
      isl AS (
        SELECT doc_id, i,
          i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS isl
        FROM dp),
      runs AS (
        SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS run_len,
          CAST(MIN(i) AS INTEGER) AS run_start
        FROM isl GROUP BY doc_id, isl),
      best AS (
        SELECT doc_id, run_len, run_start,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY run_len DESC, run_start) AS rn
        FROM runs)
      SELECT doc_id, run_len, run_start, run_len + 5 AS span_tokens
      FROM best WHERE rn = 1 ORDER BY doc_id""".stripMargin),
    "duplicated-span localization: longest contiguous run of cross-doc-duplicated 6-gram positions per doc as (start, length) via doc-keyed gaps-and-islands — the substring CUT plan ExactSubstr pipelines execute; q115's verdict, resolved to boundaries")

  // ---------------------------------------------------------------------
  // q127 — duplicated-span CUT (the ExactSubstr rewrite itself)
  // ---------------------------------------------------------------------

  /** The consumer q116's (start, length) output exists to feed: Lee et
    * al.'s ExactSubstr removes the duplicated SPAN and keeps the rest
    * of the document — it does not drop the doc (q115's trim verdict)
    * and it is finer-grained than q123's disjoint-block rewrite (a
    * span straddling block boundaries is cut exactly, not rounded to
    * blocks). Per document: the localized longest duplicated span is
    * excised from the token stream, the trimmed document is
    * reassembled, and the md5 fingerprint of the rewritten text is
    * emitted (the q123 convention — the oracle recomputes the cut from
    * the string grams, so the driver hash-compares the ENTIRE
    * rewritten corpus). Docs with no cross-doc duplicated gram — and
    * docs shorter than the gram length — pass through uncut
    * (cut_tokens = 0), so the output is a total rewrite of the corpus,
    * ready to re-fingerprint.
    *
    * Scale shape: q116's kernel (gram-hash-keyed candidates, doc-keyed
    * windows) plus ONE doc-keyed join of the span table — which holds
    * at most one row per doc — back to the tokenized spine; the cut
    * itself is a per-row bounded slice/concat projection. Measured
    * cost of that join-back: +16% shuffle over q116 at sf1, linear
    * per decade (SCALING.md round-12 q127 table).
    */
  val q127SpanCutRewrite = Q(
    "q127_span_cut_rewrite",
    (s, dir) => {
      val k = 6
      // NULL text must rewrite to the EMPTY document (n_toks = 0,
      // kept_md5 = md5('')), not propagate NULL/-1 — coalesce the token
      // array before the join so Spark and the oracle agree on
      // degenerate rows.
      val toks = T.documentsSpread(s, dir)
        .select(col("doc_id"),
          coalesce(expr(s"filter($toksSql, t -> t <> '')"),
            array().cast("array<string>")).as("ts"))
      toks.join(dupSpans(s, dir, k), Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("ts")).as("n_toks"),
          coalesce(col("run_start"), lit(0)).as("cut_start"),
          coalesce(col("span_tokens"), lit(0)).as("cut_tokens"),
          md5(array_join(
            when(col("run_start").isNull, col("ts")).otherwise(
              concat(
                slice(col("ts"), lit(1), col("run_start") - 1),
                expr("slice(ts, run_start + span_tokens, " +
                  "size(ts) - (run_start + span_tokens) + 1)"))),
            " ")).as("kept_md5"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          COALESCE(list_filter($oracleToksSql,
                               t -> t <> ''), []) AS ts
        FROM documents),
      g AS (
        SELECT doc_id, i, array_to_string(ts[i:i+5], ' ') AS gram
        FROM d, UNNEST(generate_series(1, len(ts) - 5)) AS u(i)
        WHERE len(ts) >= 6),
      dup AS (
        SELECT gram FROM g GROUP BY gram HAVING COUNT(DISTINCT doc_id) >= 2),
      dp AS (SELECT g.doc_id, g.i FROM g JOIN dup ON g.gram = dup.gram),
      isl AS (
        SELECT doc_id, i,
          i - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY i) AS isl
        FROM dp),
      runs AS (
        SELECT doc_id, CAST(COUNT(*) AS INTEGER) AS run_len,
          CAST(MIN(i) AS INTEGER) AS run_start
        FROM isl GROUP BY doc_id, isl),
      best AS (
        SELECT doc_id, run_len, run_start,
          ROW_NUMBER() OVER (PARTITION BY doc_id
            ORDER BY run_len DESC, run_start) AS rn
        FROM runs)
      SELECT d.doc_id,
        CAST(len(d.ts) AS INTEGER) AS n_toks,
        CAST(COALESCE(b.run_start, 0) AS INTEGER) AS cut_start,
        CAST(COALESCE(b.run_len + 5, 0) AS INTEGER) AS cut_tokens,
        md5(COALESCE(array_to_string(
          CASE WHEN b.run_start IS NULL THEN d.ts
               ELSE list_concat(d.ts[1:b.run_start - 1],
                                d.ts[b.run_start + b.run_len + 5:len(d.ts)])
          END, ' '), '')) AS kept_md5
      FROM d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b USING (doc_id)
      ORDER BY d.doc_id""".stripMargin),
    "duplicated-span CUT (Lee et al. ExactSubstr rewrite): q116's localized longest span excised from the token stream, trimmed doc reassembled and md5-fingerprinted so the oracle hash-compares the whole rewritten corpus; span table is <= 1 row/doc joined doc-keyed back to the spine, cut is a bounded per-row slice — one doc-keyed exchange beyond q116's own (+16% shuffle at sf1, linear per decade; SCALING.md round-12)")

  // ---------------------------------------------------------------------
  // q123 — corpus-wide block dedup with keep-first REWRITE
  // ---------------------------------------------------------------------

  /** Unit-level corpus dedup that REWRITES the surviving documents —
    * the C4/CCNet/Dolma "drop duplicated lines/paragraphs corpus-wide,
    * keep one canonical copy" pass, the granularity between whole-doc
    * (q29) and measured substring coverage (q115: measures; q116:
    * locates; this query CUTS). The corpus has no newlines, so the
    * unit is the disjoint 16-token block (the q78/q100 chunking
    * convention); a block INSTANCE survives iff it is the globally
    * FIRST occurrence of its text in (doc_id, block_idx) order — every
    * later verbatim repeat (license boilerplate, quoted passages) is
    * dropped and the document reassembled from its kept blocks.
    *
    * Output per doc: block counts, drop count, and the md5 of the
    * reassembled text — the rewrite fingerprint the oracle can
    * recompute, so the driver hash-compares the ENTIRE rewritten
    * corpus without shipping corpus-sized text through the compare.
    *
    * Scale shape: per-row block slicing (bounded HOF: ~n_toks/16
    * slices), then the canonical-instance resolution is a
    * groupBy(hash).agg(min(struct(doc,idx))) + hash-keyed join back —
    * map-side-combinable partial agg, the skew-safe CC formulation
    * (never a window over the hash); shuffles move 8-byte block
    * hashes + bounded block text, and the final doc reassembly is one
    * doc-keyed agg. The oracle groups by the block STRING — the
    * hash-vs-string dual doubles as the collision audit (q115's
    * convention).
    */
  /** The q123 kernel as a reusable stage (Curate.run's block-rewrite
    * stage consumes it): corpus-wide keep-first block dedup over any
    * (doc_id, text) frame, returning per doc the block counts and the
    * reassembled surviving text. Plan shape documented on q123. */
  def blockKeptText(docs: org.apache.spark.sql.DataFrame, bw: Int = 16)
      : org.apache.spark.sql.DataFrame = {
    val keyed = docs
      .select(col("doc_id"),
        expr(s"filter($toksSql, t -> t <> '')").as("ts"))
      // the sequence guard matters: for an empty/whitespace-only doc,
      // sequence(0, -1) is the DESCENDING [0, -1] (two phantom
      // empty-string blocks — and the first empty doc would claim the
      // '' block hash corpus-wide), while the oracle's
      // generate_series(0, -1) is empty; zero-token docs must produce
      // zero block rows in both engines
      .filter(size(col("ts")) > 0)
      .select(col("doc_id"),
        posexplode(expr(
          s"""transform(sequence(0, cast((size(ts) + ${bw - 1}) div $bw as int) - 1),
             |  i -> array_join(slice(ts, i * $bw + 1, $bw), ' '))""".stripMargin))
          .as(Seq("bi", "blk")))
      .select(col("doc_id"), col("bi"), col("blk"),
        xxhash64(col("blk")).as("h"))
    val first = keyed.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("bi"))).as("f"))
    keyed.join(first, "h")
      .withColumn("kept",
        col("doc_id") === col("f.doc_id") && col("bi") === col("f.bi"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_blocks"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dropped"),
        array_join(
          transform(
            sort_array(collect_list(
              when(col("kept"), struct(col("bi"), col("blk"))))),
            x => x.getField("blk")),
          " ").as("kept_text"))
  }

  val q123BlockDedupRewrite = Q(
    "q123_block_dedup_rewrite",
    (s, dir) =>
      blockKeptText(T.documentsSpread(s, dir))
        .select(col("doc_id"), col("n_blocks"), col("n_dropped"),
          md5(col("kept_text")).as("kept_md5"))
        .orderBy(col("doc_id")),
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      b AS (
        SELECT doc_id, i AS bi,
          array_to_string(ts[i * 16 + 1 : i * 16 + 16], ' ') AS blk
        FROM d, UNNEST(generate_series(0, (len(ts) + 15) // 16 - 1)) AS u(i)),
      m AS (
        SELECT doc_id, bi, blk,
          ROW_NUMBER() OVER (PARTITION BY blk ORDER BY doc_id, bi) AS rn
        FROM b)
      SELECT doc_id,
        CAST(COUNT(*) AS BIGINT) AS n_blocks,
        CAST(SUM(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        md5(COALESCE(string_agg(CASE WHEN rn = 1 THEN blk END, ' ' ORDER BY bi), ''))
          AS kept_md5
      FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "corpus-wide block-level dedup with keep-first REWRITE (C4/Dolma line-dedup analogue on 16-token blocks): canonical instance = min(doc,idx) per block hash via map-side-combinable partial agg + hash-keyed join back (never a window over the hash), doc reassembled and fingerprinted md5 so the oracle hash-compares the whole rewritten corpus")

  // ---------------------------------------------------------------------
  // q133 — Bloom-filter decontamination (constant-size probe structure)
  // ---------------------------------------------------------------------

  /** Bloom geometry shared by the Spark plan and the DuckDB oracle:
    * m = 2^17 bits stored as 32-bit words (so the mask arithmetic never
    * touches a sign bit in either engine), k = 4 hash functions taken
    * as the four disjoint 32-bit slices of one md5 — the repo's
    * cross-engine hash idiom (`conv(substring(md5 ...))` ≡ DuckDB
    * `('0x' || substr(md5 ...))::BIGINT`), so both engines compute
    * bit-identical positions, set the same bits, and flag the same
    * false positives.
    */
  private val bloomBits = 131072L

  /** Position of hash i (0-3) from the md5-HEX column `h`. The hex is
    * materialized as its own projection first (md5 once per gram) —
    * inlining `md5(g)` here would evaluate it 4× in the position
    * Project and 4 MORE times in the isnotnull Filter Catalyst infers
    * from the bit-test predicate and pushes below the probe joins
    * (8 md5/gram, measured on the sf1 probe side); CollapseProject
    * keeps the split because a non-cheap expression referenced 4×
    * is not re-inlined. */
  private def bloomPosSql(i: Int): String =
    s"cast(conv(substring(h, ${1 + 8 * i}, 8), 16, 10) as bigint) % $bloomBits"

  /** The Bloom bitmap as a FRAME: one row per non-zero 32-bit word,
    * (widx, word). Built with one map-side-combinable `bit_or` hash
    * agg over the probe set's 4k positions — ≤ m/32 = 4096 rows no
    * matter how many grams went in, which is the whole point: the
    * probe structure the corpus side consumes is CONSTANT-SIZE.
    */
  private[graft] def bloomWords(evalGrams: DataFrame): DataFrame =
    evalGrams
      .select(md5(col("g")).as("h"))
      .select(explode(array(
        (0 until 4).map(i => expr(bloomPosSql(i))): _*)).as("p"))
      .groupBy(expr("p div 32").as("widx"))
      .agg(expr("bit_or(shiftleft(1L, cast(p % 32 as int)))").as("word"))

  /** Benchmark decontamination at the scale where q77's broadcast of
    * the probe SHINGLE SET itself stops fitting: a Bloom filter over
    * the eval shingles replaces the shingle set with a fixed 16 KiB
    * bitmap (m = 2^17 bits, k = 4), traded for a deterministic
    * false-positive rate — the standard quarantine-then-verify shape
    * (flagged docs are a tiny fraction; q77's exact probe runs on just
    * those). With a 1 GiB bitmap the same plan screens a 100 TB corpus
    * against a multi-TB eval/blocklist side that could never be
    * broadcast verbatim.
    *
    * Spark-first shape: the bitmap is not a driver-side object but a
    * ≤4096-row (widx, word) FRAME — built by one map-side-combined
    * `bit_or` agg, consumed via four broadcast-hash left joins (one
    * per hash function, each on a 32-bit word index). The corpus side
    * is scan → native-codegen shingling → 4 BHJs → AND filter →
    * per-doc count: zero corpus-keyed shuffles except the final
    * doc_id agg, everything whole-stage codegen (no HOF lambdas on
    * the hot path). The eval branch's doc_id < 10 filter pushes to the
    * scan, so the shingle subtree's fan-out costs 10 docs, not a
    * corpus re-shingle (why there is no checkpoint here, unlike q106).
    *
    * Cross-engine exactness: positions are md5 slices (see
    * [[bloomPosSql]]), words are 32-bit so `1L << (p % 32)` and the
    * `&` test stay sign-free in both engines; the oracle re-derives
    * every set bit and every false positive exactly.
    */
  /** q133's shingle frame: (doc_id, grams) with distinct 5-gram
    * shingles per doc — factored so the streaming twin shingles its
    * stream with the IDENTICAL expression. */
  private[graft] def bloomGrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), expr(s"filter($toksSql, t -> t <> '')").as("ts"))
      .filter(size(col("ts")) >= 5)
      .select(col("doc_id"),
        array_distinct(graft.functions.GraftFunctions.ngrams(col("ts"), 5))
          .as("grams"))

  /** q133's probe side over a prepared (doc_id, grams) frame: positions
    * from md5 slices (hex materialized ONCE per gram), four word-index
    * joins, null-tolerant AND bit test, per-doc flagged count. `words`
    * is ≤4096 rows: pass it stored, so its measured size plans the four
    * joins as broadcasts. Factored so the STREAMING twin (Streams.bloomScreen) runs
    * the identical plan on a streaming grams frame — the probe is
    * STATELESS (stream-static broadcast joins) until the final per-doc
    * agg, which is exactly why the Bloom shape screens an unbounded
    * stream where q77's exact probe-set join could not.
    */
  private[graft] def bloomProbeFlagged(g: DataFrame, words: DataFrame)
      : DataFrame = {
    val probe = g
      .select(col("doc_id"), size(col("grams")).as("n_grams"),
        explode(col("grams")).as("g"))
      .select(col("doc_id"), col("n_grams"), md5(col("g")).as("h"))
      .select(col("doc_id") +: col("n_grams") +:
        (0 until 4).map(i => expr(bloomPosSql(i)).as(s"p$i")): _*)
    val joined = (0 until 4).foldLeft(probe) { (df, i) =>
      df.join(
        words.select(col("widx").as(s"widx$i"), col("word").as(s"word$i")),
        expr(s"p$i div 32") === col(s"widx$i"), "left")
    }
    joined
      // the outer coalesce makes the bit test null-TOLERANT: without
      // it Catalyst infers isnotnull(p_i) from the null-intolerant
      // predicate and pushes it below the probe joins, re-expanding
      // each p_i through the h alias back to md5(g) — 4 vacuous md5
      // evaluations per gram in a Filter guarding nothing (md5 of a
      // non-null string is never null). Values identical.
      .filter((0 until 4).map(i => expr(
        s"coalesce((coalesce(word$i, 0L) & shiftleft(1L, cast(p$i % 32 as int))) != 0, false)"))
        .reduce(_ && _))
      .groupBy(col("doc_id"), col("n_grams"))
      .agg(count(lit(1)).as("n_flagged"))
      .select(col("doc_id"), col("n_flagged"), col("n_grams"))
  }

  val q133BloomDecontam = Q(
    "q133_bloom_decontam",
    (s, dir) => {
      val g = bloomGrams(T.documentsSpread(s, dir))
      // the words frame fans into FOUR broadcast builds; Catalyst does
      // not share identical subplans, so without this the eval scan →
      // shingle → distinct → bit_or subtree runs 4× (the q107/q120
      // lesson). ≤4096 rows — storing it is one tiny job.
      val words = Stored.checkpoint(bloomWords(
        g.filter(col("doc_id") < 10)
          .select(explode(col("grams")).as("g")).distinct())).df
      bloomProbeFlagged(g.filter(col("doc_id") >= 10), words)
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      g AS (
        SELECT doc_id,
          list_distinct(list_transform(generate_series(1, len(ts) - 4),
            i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' ||
                 ts[i+3] || ' ' || ts[i+4])) AS grams
        FROM d WHERE len(ts) >= 5),
      ev AS (SELECT DISTINCT unnest(grams) AS gr FROM g WHERE doc_id < 10),
      pos AS (
        SELECT ('0x' || substr(md5(gr), 1, 8))::BIGINT % $bloomBits AS p FROM ev
        UNION ALL
        SELECT ('0x' || substr(md5(gr), 9, 8))::BIGINT % $bloomBits FROM ev
        UNION ALL
        SELECT ('0x' || substr(md5(gr), 17, 8))::BIGINT % $bloomBits FROM ev
        UNION ALL
        SELECT ('0x' || substr(md5(gr), 25, 8))::BIGINT % $bloomBits FROM ev),
      w AS (
        SELECT p // 32 AS widx,
          bit_or(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER)) AS word
        FROM pos GROUP BY 1),
      tr AS (
        SELECT doc_id, len(grams) AS n_grams, unnest(grams) AS gr
        FROM g WHERE doc_id >= 10),
      tp AS (
        SELECT doc_id, n_grams,
          ('0x' || substr(md5(gr), 1, 8))::BIGINT % $bloomBits AS p0,
          ('0x' || substr(md5(gr), 9, 8))::BIGINT % $bloomBits AS p1,
          ('0x' || substr(md5(gr), 17, 8))::BIGINT % $bloomBits AS p2,
          ('0x' || substr(md5(gr), 25, 8))::BIGINT % $bloomBits AS p3
        FROM tr),
      f AS (
        SELECT tp.doc_id, tp.n_grams FROM tp
        JOIN w w0 ON w0.widx = tp.p0 // 32
          AND (w0.word & (CAST(1 AS BIGINT) << CAST(tp.p0 % 32 AS INTEGER))) <> 0
        JOIN w w1 ON w1.widx = tp.p1 // 32
          AND (w1.word & (CAST(1 AS BIGINT) << CAST(tp.p1 % 32 AS INTEGER))) <> 0
        JOIN w w2 ON w2.widx = tp.p2 // 32
          AND (w2.word & (CAST(1 AS BIGINT) << CAST(tp.p2 % 32 AS INTEGER))) <> 0
        JOIN w w3 ON w3.widx = tp.p3 // 32
          AND (w3.word & (CAST(1 AS BIGINT) << CAST(tp.p3 % 32 AS INTEGER))) <> 0)
      SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged,
        CAST(n_grams AS INTEGER) AS n_grams
      FROM f GROUP BY doc_id, n_grams ORDER BY doc_id""".stripMargin),
    "Bloom-filter decontamination: eval 5-gram shingles folded into a constant-size bitmap (m=2^17, k=4 md5-slice hashes) held as a <=4096-row (widx, word) frame built by one map-side bit_or agg; corpus probes via four broadcast word-index joins + AND filter + doc_id count — the probe structure a 100 TB corpus screens against when the blocklist itself is too big to broadcast, false positives deterministic and oracle-reproduced bit-for-bit")

  // ---------------------------------------------------------------------
  // q134 — soft dedup: 1/cluster-size training weights
  // ---------------------------------------------------------------------

  /** Soft dedup — the modern alternative to DROPPING near-duplicates:
    * keep every document and emit a training weight 1/|cluster| so a
    * cluster of n near-copies contributes one document's worth of
    * gradient in expectation (the loss-reweighting form of dedup used
    * when provenance or coverage forbids deletion). Composes q72's
    * machinery unchanged: q33's LSH pair graph → star-contraction CC →
    * cluster sizes → weight; docs in no cluster weight 1.0.
    *
    * Scale shape: the pair graph and its label frame are near-dup-
    * sized, not corpus-sized; sizes is one tiny agg over labels; the
    * only corpus-scale work is ONE left join plus the projection. The
    * join carries no hint (q112's rule: AQE broadcasts the label side
    * from its measured size, and a real crawl's 20-30% dup membership
    * keeps the shuffled join). Weight is a single IEEE division of
    * exact integers — identical in both engines.
    */
  val q134SoftDedupWeights = Q(
    "q134_softdedup_weights",
    (s, dir) => {
      val pairs = LlmOps.nearDupPairs(s, dir)
        .select(col("id_a"), col("id_b"))
      val labels = graft.ops.ConnectedComponents.largeStarSmallStar(pairs)
      val sized = labels.join(
        labels.groupBy(col("lbl")).agg(count(lit(1)).as("n_members")),
        "lbl")
        .select(col("v").as("doc_id"), col("lbl"), col("n_members"))
      T.documentsSpread(s, dir).select(col("doc_id"))
        .join(sized, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("lbl"), col("doc_id")).as("cluster_id"),
          coalesce(col("n_members"), lit(1L)).as("n_members"),
          (lit(1.0) / coalesce(col("n_members"), lit(1L))).as("weight"))
        .orderBy(col("doc_id"))
    },
    Some(s"""
      WITH RECURSIVE sh AS (
        SELECT doc_id,
          list_distinct(list_transform(generate_series(1, len(toks)-2),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS s
        FROM (SELECT doc_id, $oracleToksSql toks FROM documents)
        WHERE len(toks) >= 3),
      pairs AS (
        SELECT a.doc_id AS id_a, b.doc_id AS id_b
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE)
            / len(list_distinct(list_concat(a.s, b.s))) >= 0.8),
      e AS (
        SELECT id_a AS v, id_b AS u FROM pairs
        UNION ALL SELECT id_b, id_a FROM pairs),
      reach(v, u) AS (
        SELECT v, u FROM e
        UNION
        SELECT r.v, e.u FROM reach r JOIN e ON e.v = r.u),
      lbl AS (
        SELECT v, LEAST(v, MIN(u)) AS lbl FROM reach GROUP BY v),
      cs AS (SELECT lbl, COUNT(*) AS n FROM lbl GROUP BY lbl)
      SELECT d.doc_id,
        COALESCE(l.lbl, d.doc_id) AS cluster_id,
        CAST(COALESCE(cs.n, 1) AS BIGINT) AS n_members,
        CAST(1 AS DOUBLE) / COALESCE(cs.n, 1) AS weight
      FROM documents d
      LEFT JOIN lbl l ON l.v = d.doc_id
      LEFT JOIN cs ON cs.lbl = l.lbl
      ORDER BY d.doc_id""".stripMargin),
    "soft dedup: per-document training weight 1/|near-dup cluster| (1.0 unclustered) — loss reweighting instead of deletion, composing the q33 LSH pair graph + star-contraction CC + one corpus left join (AQE broadcasts the label side when its measured size fits); a cluster of n near-copies contributes one document's expected gradient")

  // ---------------------------------------------------------------------
  // q142 — length-bucketed batch assembly (dynamic batching manifest)
  // ---------------------------------------------------------------------

  /** Length-bucketed batch assembly — the padding-efficiency pass a
    * sequence-training loader runs when examples are NOT packed into
    * fixed shards (SFT / contrastive / reranker training, where
    * examples must stay whole): batching ragged docs uniformly pads
    * every sequence to the batch max, so group docs into power-of-two
    * length BANDS first (band = bit length of n_tok — an exact
    * integer both engines compute as length(bin(n))), order within a
    * band by (n_tok, doc_id), and cut fixed batches of 16. Within a
    * band max_tok < 2·min_tok by construction, so padding waste is
    * < 50% on ANY corpus before the within-band sort tightens it
    * further — the bucketed-batching guarantee, stated and
    * spec-pinned. Output is the per-batch manifest (the thing a
    * loader consumes): doc count, min/max/sum tokens, and pad_tokens
    * = n_docs·max − sum, all exact int64.
    *
    * Scale shape: one tokenize-count scan (two pruned int columns),
    * the in-band rank through ops.BlockRanks (p-way even though
    * short-doc bands hold most of the corpus — the hot-band analogue
    * of q141's hot source), one (band, batch) hash agg. Nothing is
    * single-task-windowed; the manifest is output-sized.
    */
  val q142LengthBatches = Q(
    "q142_length_batches",
    (s, dir) => {
      val nz = T.documentsSpread(s, dir)
        .select(col("doc_id"),
          expr(s"size(filter($toksSql, t -> t <> ''))").cast("long").as("n_tok"))
        .filter(col("n_tok") >= 1)
        .withColumn("band", length(bin(col("n_tok"))).cast("long"))
      val ranked = graft.ops.BlockRanks.withBlockRank(
        nz, "band", Seq(col("n_tok"), col("doc_id")), "rk",
        knownRows = graft.queries.PipelineOps.nonEmptyDocCount(s, dir))
      ranked
        .withColumn("batch_id", expr("(rk - 1) div 16"))
        .groupBy(col("band"), col("batch_id"))
        .agg(count(lit(1)).as("n_docs"),
          min(col("n_tok")).as("min_tok"),
          max(col("n_tok")).as("max_tok"),
          sum(col("n_tok")).cast("long").as("sum_tok"))
        .withColumn("pad_tokens",
          col("n_docs") * col("max_tok") - col("sum_tok"))
        .orderBy(col("band"), col("batch_id"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          CAST(len(list_filter($oracleToksSql, t -> t <> ''))
               AS BIGINT) AS n_tok
        FROM documents),
      nz AS (
        SELECT doc_id, n_tok, CAST(length(bin(n_tok)) AS BIGINT) AS band
        FROM d WHERE n_tok >= 1),
      r AS (
        SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY band
                                          ORDER BY n_tok, doc_id)
                       AS BIGINT) AS rk
        FROM nz)
      SELECT band, (rk - 1) // 16 AS batch_id,
        CAST(COUNT(*) AS BIGINT) AS n_docs,
        MIN(n_tok) AS min_tok, MAX(n_tok) AS max_tok,
        CAST(SUM(n_tok) AS BIGINT) AS sum_tok,
        CAST(COUNT(*) AS BIGINT) * MAX(n_tok) - CAST(SUM(n_tok) AS BIGINT)
          AS pad_tokens
      FROM r GROUP BY 1, 2
      ORDER BY 1, 2""".stripMargin),
    "length-bucketed batch assembly (dynamic batching for whole-example training): band = bit length of n_tok (exact via length(bin(n)) on both engines), within-band (n_tok, doc_id) rank through ops.BlockRanks cut into batches of 16, per-batch manifest with pad_tokens = n_docs*max - sum; max < 2*min inside any band so padding waste < 50% on ANY corpus before the sort tightens it - all int64")

  val all: Seq[Q] = Seq(
    q66Tfidf, q67HashSplit, q68IncrementalDedup, q69BigramLift, q70PiiRedact,
    q71CmsHeavyHitters, q72DupClusters, q73RepetitionFilter, q74Zorder,
    q77Decontaminate, q78TokenPacking, q80EvalCarveout, q100ChunkWindows,
    q101ChunkPacking, q102ShuffledPacking, q110SnapshotMerge,
    q111StarClusters, q112ClusterSafeSplit, q115SubstringDup,
    q116DupSpanLocalize, q123BlockDedupRewrite, q127SpanCutRewrite,
    q133BloomDecontam, q134SoftDedupWeights, q142LengthBatches)
}
