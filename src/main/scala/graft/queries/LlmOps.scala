package graft.queries

import graft.{Q, Tables => T}
import graft.ops.Stored
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LLM-training-data pipeline operators over the `documents` and
  * `embeddings` tables (SURVEY.md §2.10; the north-star extension set:
  * dedup, near-dup, similarity search, text analysis, fingerprinting).
  *
  * The reference motivates these (README.md:24,41 plans sentiment /
  * neutrality filtering over the crawled corpus) but implements none; the
  * designs below are the standard scale-out shapes:
  *
  *  - exact dedup: hash-groupBy — one shuffle on the hash, map-side
  *    partial agg, no data movement of the text itself beyond the hash.
  *  - near-dup: candidate generation FIRST (inverted shingle index or
  *    banded minhash-LSH buckets), exact Jaccard only on candidates.
  *    Never all-pairs: at 100 TB, |pairs| = O(n²) is a non-starter;
  *    LSH keeps the join keyed on (band, bucket) so the shuffle is
  *    O(n·bands) and skew is bounded by bucket size.
  *  - top-k cosine: broadcast the (small) query set, stream the corpus
  *    once, per-partition top-k via window — no shuffle of the corpus
  *    beyond the final k·|queries| rows.
  *
  * Cross-engine determinism: every hash is md5 (identical lowercase hex
  * in Spark and DuckDB on the same UTF-8 bytes); minhash minima are taken
  * over hex STRINGS (lexicographic, locale-free); all similarity math is
  * IEEE double in an explicitly sequenced fold (Spark `aggregate` from
  * 0.0 ≡ DuckDB `list_reduce` from the first element, since 0.0+x == x
  * exactly), so both engines produce bit-identical doubles.
  */
object LlmOps {

  import graft.Qdsl.{oracleToksSql, toksSql}

  /** documents with a distinct-3-shingle-set column `sh`. Reads the
    * hash-distributed scan ([[graft.Tables.documentsSpread]]) so the
    * shingling + downstream sketching parallelize — the single-row-group
    * testdata would otherwise pin the whole shingle/minhash stage to one
    * task. Shingles come from the native codegen
    * [[graft.functions.NGramKernel.ngrams]] (byte-identical to the interpreted
    * `transform(sequence)+concat` HOF chain it replaced — parity pinned
    * in FunctionPropertySpec; the DuckDB oracles keep their independent
    * `list_transform(generate_series)` formulation).
    */
  private[queries] def shingled(s: SparkSession, dir: String): DataFrame =
    T.documentsSpread(s, dir)
      .select(col("doc_id"), expr(toksSql).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        array_distinct(graft.functions.GraftFunctions.ngrams(col("toks"), 3))
          .as("sh"))

  /** [[shingled]] with every shingle pre-hashed to an xxhash64 LONG
    * (seed 42 — the exact hash Spark's `xxhash64()` and the minhash
    * kernel's base both compute, so downstream keys and sketches are
    * bit-identical to hashing the strings later), stored ([[Stored]]):
    * each consumer (q32, [[lshPairs]], q94, q106) reads it in more than
    * one branch, and Catalyst plans each occurrence independently.
    * This is the frame the q32 family stores and joins on: 8 bytes per
    * shingle instead of a ~20-char string, which is the difference
    * between a cache that always fits and one that thrashes under
    * session memory pressure — measured on the sf1 decade corpus,
    * the string-array cache missed in any warm session and re-ran
    * the whole shingle DAG through fresh AQE stages (267 MB of
    * shuffle for 80 MB of work; BENCH_NOTES). Set semantics
    * (distinct, Jaccard, containment) are exact up to within-doc
    * 64-bit collisions (~n²/2⁶⁴ per doc) — the same documented bound
    * the prefix index already carries.
    */
  private[queries] def shingledHashed(s: SparkSession, dir: String): DataFrame =
    Stored.checkpoint(T.documentsSpread(s, dir)
      .select(col("doc_id"), expr(toksSql).as("toks"))
      .filter(size(col("toks")) >= 3)
      .select(col("doc_id"),
        array_distinct(transform(
          graft.functions.GraftFunctions.ngrams(col("toks"), 3),
          g => xxhash64(g))).as("sh"))).df

  private def jaccard(a: Column, b: Column): Column =
    size(array_intersect(a, b)).cast("double") / size(array_union(a, b))

  /** The near-dup pair graph the cluster-resolution family consumes
    * (q72/q89/q111/q112): q33's banded-LSH generation rather than
    * q32's ppjoin — the LSH path is the one those scaladocs already
    * name as the 100 TB route, and it is ~2× cheaper at the gate SFs
    * (round-12 measurement: 1.34 s vs 1.68 s wall, 10.6 s vs 21.9 s
    * task CPU at sf0.1 — the ppjoin pays two corpus-inverted-index
    * window shuffles that the banded sketch path does not). The two
    * generators' outputs are equal by q33's banding bound (miss
    * probability < 8e-8 per borderline pair; deterministic equality on
    * these corpora is pinned by NearDupRecallSpec and by q33's own
    * oracle, which IS the exact-Jaccard SQL). Every consumer's DuckDB
    * oracle keeps the exact formulation — an LSH miss would flip the
    * hash gate red, never hide.
    */
  private[graft] def nearDupPairs(s: SparkSession, dir: String): DataFrame =
    lshPairs(s, dir)

  /** Exact Jaccard >= `threshold` on candidate pairs (id_a < id_b),
    * given a frame of candidate (id_a, id_b) pairs. UNORDERED — the
    * declared q32/q33 queries add their output `orderBy` on top;
    * keeping the sort out of this seam keeps it out of the SIX
    * pair-graph consumers (q72/q89/q111/q112/q134/Curate stage 4),
    * which read the pairs as an unordered edge/delete list — a global
    * sort here cost each of them a range exchange plus its
    * boundary-sampling pass for an ordering nothing downstream used
    * (round 21; guide §2.4's "orderBy used only to make output
    * deterministic" case).
    */
  private def verifiedPairs(sh: DataFrame, cands: DataFrame): DataFrame = {
    val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
    val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
    cands
      .join(a, "id_a")
      .join(b, "id_b")
      .select(col("id_a"), col("id_b"),
        jaccard(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= 0.8)
  }

  // ---------------------------------------------------------------------
  // Exact dedup
  // ---------------------------------------------------------------------

  val q29ExactDedup = Q(
    "q29_exact_dedup",
    (s, dir) =>
      T.documents(s, dir)
        .groupBy(md5(col("text")).as("text_hash"))
        .agg(
          count(lit(1)).as("n_copies"),
          min(col("doc_id")).as("first_doc"),
          min(col("n_chars")).cast("long").as("n_chars"))
        .orderBy(col("text_hash")),
    Some("""
      SELECT md5(text) AS text_hash, COUNT(*) AS n_copies, MIN(doc_id) AS first_doc,
             CAST(MIN(n_chars) AS BIGINT) AS n_chars
      FROM documents GROUP BY 1 ORDER BY text_hash""".stripMargin),
    "exact text dedup: hash-groupBy; at scale only the 16-byte hash shuffles, representative row by min id")

  // ---------------------------------------------------------------------
  // Text analysis
  // ---------------------------------------------------------------------

  val q30TokenFreq = Q(
    "q30_token_freq",
    (s, dir) =>
      T.documentsSpread(s, dir)
        .select(col("doc_id"), explode(expr(toksSql)).as("token"))
        .filter(col("token") =!= "")
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n_total"), countDistinct(col("doc_id")).as("n_docs"))
        .orderBy(col("n_total").desc, col("token")),
    Some(s"""
      SELECT t AS token, COUNT(*) AS n_total, COUNT(DISTINCT doc_id) AS n_docs
      FROM (SELECT doc_id, unnest($oracleToksSql) AS t FROM documents)
      WHERE t <> '' GROUP BY t ORDER BY n_total DESC, token""".stripMargin),
    "corpus term + document frequency: generator explode (O-24) feeding a hash agg with count-distinct")

  val q31DocDistinctTokens = Q(
    "q31_doc_distinct_tokens",
    (s, dir) =>
      T.documents(s, dir)
        .filter(col("doc_id") < 20)
        .select(col("doc_id"), explode(array_distinct(expr(toksSql))).as("token"))
        .orderBy(col("doc_id"), col("token")),
    Some(s"""
      SELECT doc_id, unnest(list_distinct($oracleToksSql)) AS token
      FROM documents WHERE doc_id < 20 ORDER BY doc_id, token""".stripMargin),
    "per-row array dedup then fan-out: array_distinct + explode (O-23/O-25, fetcher main.py:122 set-comprehension semantics)")

  val q35LangQuality = Q(
    "q35_lang_quality",
    (s, dir) =>
      T.documentsSpread(s, dir)
        .select(col("lang"), col("source"), col("n_chars"),
          size(expr(toksSql)).as("n_toks"),
          size(array_distinct(expr(toksSql))).as("n_utoks"))
        .groupBy(col("lang"))
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_toks")).cast("long").as("total_tokens"),
          (sum(col("n_toks")).cast("double") / count(lit(1))).as("avg_tokens"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          (sum(col("n_utoks")).cast("double") / sum(col("n_toks"))).as("type_token_ratio"),
          countDistinct(col("source")).as("n_sources"))
        .orderBy(col("lang")),
    Some(s"""
      WITH d AS (
        SELECT lang, source, n_chars,
          $oracleToksSql toks,
          list_distinct($oracleToksSql) utoks
        FROM documents)
      SELECT lang, COUNT(*) AS n_docs,
        CAST(SUM(len(toks)) AS BIGINT) AS total_tokens,
        CAST(SUM(len(toks)) AS DOUBLE) / COUNT(*) AS avg_tokens,
        CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
        CAST(SUM(len(utoks)) AS DOUBLE) / SUM(len(toks)) AS type_token_ratio,
        COUNT(DISTINCT source) AS n_sources
      FROM d GROUP BY lang ORDER BY lang""".stripMargin),
    "per-language quality profile: token counts, type/token ratio — all ratios are exact-integer divisions, engine-identical")

  /** Tiny embedded polarity lexicons — the §2.10 "sentiment-lexicon
    * score" op (the reference README.md:24,41 plans sentiment filtering
    * over the crawled corpus; a lexicon sum is its minimal deterministic
    * form). Hard-coded and small so the DuckDB oracle embeds the
    * IDENTICAL lists.
    */
  private val posWords = Seq("good", "great", "excellent", "happy", "love",
    "best", "win", "bright")
  private val negWords = Seq("bad", "terrible", "poor", "sad", "hate",
    "worst", "fail", "dark")

  /** Sentiment-lexicon scoring (SURVEY.md §2.10 row 4): per document,
    * positive/negative lexicon hit counts (with multiplicity) and
    * polarity score (pos−neg)/tokens, plus the argmax label with the
    * deterministic neutral band at exactly 0. The score is one
    * int-difference divided by one int — a single IEEE operation, so
    * both engines produce the bit-identical double. Embarrassingly
    * parallel single pass; the downstream filter (`label != 'neg'`) is
    * the reference's planned sentiment gate as a WHERE clause.
    */
  val q61SentimentLexicon = Q(
    "q61_sentiment_lexicon",
    (s, dir) => {
      val posArr = posWords.map(w => s"'$w'").mkString("array(", ",", ")")
      val negArr = negWords.map(w => s"'$w'").mkString("array(", ",", ")")
      T.documents(s, dir)
        .select(col("doc_id"), expr(toksSql).as("toks"))
        .orderBy(col("doc_id"))
        .select(col("doc_id"),
          expr(s"size(filter(toks, t -> array_contains($posArr, t)))").as("n_pos"),
          expr(s"size(filter(toks, t -> array_contains($negArr, t)))").as("n_neg"),
          col("toks"))
        .select(col("doc_id"), col("n_pos"), col("n_neg"),
          ((col("n_pos") - col("n_neg")).cast("double") / size(col("toks"))).as("score"))
        .withColumn("label",
          when(col("score") > 0, "pos").when(col("score") < 0, "neg")
            .otherwise("neutral"))
    },
    Some {
      val posArr = posWords.map(w => s"'$w'").mkString("[", ",", "]")
      val negArr = negWords.map(w => s"'$w'").mkString("[", ",", "]")
      s"""
      WITH d AS (
        SELECT doc_id, $oracleToksSql toks FROM documents),
      c AS (
        SELECT doc_id,
          CAST(len(list_filter(toks, t -> list_contains($posArr, t))) AS INTEGER) n_pos,
          CAST(len(list_filter(toks, t -> list_contains($negArr, t))) AS INTEGER) n_neg,
          len(toks) n
        FROM d)
      SELECT doc_id, n_pos, n_neg,
        CAST(n_pos - n_neg AS DOUBLE) / n AS score,
        CASE WHEN n_pos > n_neg THEN 'pos'
             WHEN n_pos < n_neg THEN 'neg' ELSE 'neutral' END AS label
      FROM c ORDER BY doc_id""".stripMargin
    },
    "sentiment-lexicon score (SURVEY §2.10; reference README.md:24,41's planned sentiment gate): polarity hit counts + exact-division score + label, single parallel pass")

  /** Per-document quality FILTER — the corpus-cleaning decision op
    * (C4's heuristic line filters, Raffel et al. 2020 §2.2; Gopher's
    * document-quality rules, Rae et al. 2021 Table A1), distinct from
    * q35's corpus-level profile: every ratio lands per document and
    * feeds a keep/drop verdict. All ratios are int/int single divisions
    * (bit-identical cross-engine); thresholds chosen to split the
    * synthetic corpus non-trivially. One scan, no shuffle until the
    * output sort.
    */
  val q62QualityFilter = Q(
    "q62_quality_filter",
    (s, dir) => {
      val stopArr = Seq("the", "a", "of", "and", "to", "in", "is", "it")
        .map(w => s"'$w'").mkString("array(", ",", ")")
      T.documents(s, dir)
        .select(col("doc_id"), col("n_chars"), col("text"), expr(toksSql).as("toks"))
        .orderBy(col("doc_id"))
        .select(col("doc_id"),
          size(col("toks")).as("n_toks"),
          (length(regexp_replace(lower(col("text")), "[a-z0-9 ]", "")).cast("double")
            / length(col("text"))).as("punct_ratio"),
          (expr(s"size(filter(toks, t -> array_contains($stopArr, t)))").cast("double")
            / size(col("toks"))).as("stop_ratio"),
          (length(regexp_replace(col("text"), " ", "")).cast("double")
            / size(col("toks"))).as("mean_word_len"))
        .withColumn("keep",
          col("n_toks").between(10, 5000) &&
            col("punct_ratio") < 0.1 && col("stop_ratio") >= 0.01)
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id, text, $oracleToksSql toks FROM documents),
      m AS (
        SELECT doc_id,
          CAST(len(toks) AS INTEGER) n_toks,
          CAST(len(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
            / len(text) AS punct_ratio,
          CAST(len(list_filter(toks,
            t -> list_contains(['the','a','of','and','to','in','is','it'], t))) AS DOUBLE)
            / len(toks) AS stop_ratio,
          CAST(len(replace(text, ' ', '')) AS DOUBLE) / len(toks) AS mean_word_len
        FROM d)
      SELECT doc_id, n_toks, punct_ratio, stop_ratio, mean_word_len,
        (n_toks BETWEEN 10 AND 5000) AND punct_ratio < 0.1
          AND stop_ratio >= 0.01 AS keep
      FROM m ORDER BY doc_id""".stripMargin),
    "per-document quality filter (C4/Gopher-style): punct/stopword/word-length ratios + keep verdict, exact int/int divisions, one parallel scan")

  // ---------------------------------------------------------------------
  // Near-duplicate detection
  // ---------------------------------------------------------------------

  /** Exact set-similarity join with ppjoin-style prefix filtering
    * (Xiao et al., "Efficient Similarity Joins for Near Duplicate
    * Detection", WWW'08): under any global total order of shingles, if
    * J(A,B) >= t then |A∩B| >= ceil(t·max(|A|,|B|)), and two sets with
    * overlap >= α must collide within their (|X|−α+1)-prefixes — so
    * indexing only the (|sh| − ceil(t·|sh|) + 1) smallest shingles per
    * doc keeps recall EXACTLY 1 for J >= t while shrinking the inverted
    * index ~5× at t=0.8 and collapsing hot-shingle candidate blowup.
    *
    * The global order is ASCENDING DOCUMENT FREQUENCY (ties by
    * xxhash64 of the shingle) — the classic AllPairs/ppjoin ordering: a
    * hot shingle sorts last and lands in (almost) no prefix, so the
    * inverted index is built from each doc's rarest shingles and
    * candidate fan-out per key stays ~1. Costs one counting pass
    * (groupBy shingle key) + one annotate join + one per-doc window —
    * all keyed shuffles that scale linearly. A size-compatibility
    * filter (J >= t ⇒ min(|A|,|B|) >= t·max(|A|,|B|)) prunes
    * cross-size candidates before the distinct. Candidates then get
    * exact Jaccard on the stored shingle frame.
    *
    * The inverted index carries `xxhash64(shingle)` (8 bytes), never
    * the shingle string — the index exists only to generate candidate
    * (doc, doc) pairs. A CROSS-doc hash collision can only ADD a
    * candidate, which exact verification then rejects; a WITHIN-doc
    * collision, however, merges two prefix rows onto one key and so
    * shortens that doc's distinct-key prefix by one slot relative to
    * the n-derived prefix length — recall therefore holds up to
    * within-doc 64-bit collisions (probability ~n²/2⁶⁴ per doc,
    * vanishing but not exactly zero; order ties are broken identically
    * everywhere since the order IS the key). Both window shuffles and
    * the self-join shrink by the shingle-string width.
    */
  val q32NearDupPairs = Q(
    "q32_near_dup_pairs",
    (s, dir) => {
      // hashed shingle sets: the stored frame carries int64s only
      // (see shingledHashed — the string-array cache thrashed at the
      // sf1 decade), and the index key IS the element value
      val sh = shingledHashed(s, dir)
      val inv0 = sh.select(col("doc_id"), size(col("sh")).as("n"),
        explode(col("sh")).as("shk"))
      // document frequency as a COUNT window over the inverted index —
      // one shuffle keyed on the shingle key, replacing the groupBy +
      // join-back pair (same df values, one fewer stage)
      val wDf = Window.partitionBy(col("shk"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shk"))
      val prefix = Stored.checkpoint(inv0.withColumn("df", count(lit(1)).over(wDf))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("n") - ceil(col("n") * 0.8).cast("int") + 1)
        .select(col("doc_id"), col("n"), col("shk"))).df
      val cands = prefix.as("x").join(prefix.as("y"),
          col("x.shk") === col("y.shk") &&
          col("x.doc_id") < col("y.doc_id") &&
          least(col("x.n"), col("y.n")).cast("double") >=
            greatest(col("x.n"), col("y.n")) * 0.8)
        .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .distinct()
      verifiedPairs(sh, cands).orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""
      WITH s AS (
        SELECT doc_id,
          list_distinct(list_transform(generate_series(1, len(toks)-2),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, $oracleToksSql toks FROM documents)
        WHERE len(toks) >= 3)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) AS jaccard
      FROM s a JOIN s b ON a.doc_id < b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
          / len(list_distinct(list_concat(a.sh, b.sh))) >= 0.8
      ORDER BY id_a, id_b""".stripMargin),
    "near-dup via exact set-similarity join: inverted shingle index -> candidate pairs -> exact Jaccard >= 0.8")

  /** Banded minhash-LSH near-dup (the 100 TB path): 32 xxhash64-long
    * minhashes -> 16 bands x 2 rows -> group by (band, bucket) ->
    * candidate pairs within buckets only -> exact Jaccard verify.
    *
    * Cost discipline: minhashes are xxhash64 LONGS (codegen'd 8-byte
    * min-reduce), not md5 hex strings — ~10× less CPU and no string
    * churn; the shingle frame and the (band,bucket) frame are stored so
    * the self-join + verify DAG computes each exactly once instead of
    * 2-4×. Correctness needs no cross-engine hash parity:
    * the registered oracle is the EXACT-Jaccard answer (q32's SQL), and
    * LSH internals only shape the candidate set.
    *
    * Oracle-equivalence contract (not just a planted-data accident): a
    * pair at the J=0.8 design point collides in one band w.p. J² >= 0.64,
    * so P(missed by all 16 bands) <= 0.36¹⁶ < 8e-8 — the LSH answer
    * equals the exact answer for any dataset with < ~10⁶ borderline
    * pairs, and deterministically so for this one (planted J >= 0.97:
    * miss < 1e-20). At 100 TB the remaining hazard is a mega-bucket from
    * exact duplicates — run q29 exact dedup first (standard staging).
    */
  /** q33's verified LSH pair frame, UNORDERED — the body the
    * [[nearDupPairs]] seam hands to the six pair-graph consumers; the
    * declared q33 query is exactly this plus its output orderBy (see
    * the verifiedPairs note). */
  private[graft] def lshPairs(s: SparkSession, dir: String): DataFrame = {
    // hashed shingles (8-byte cache, see shingledHashed); the minhash
    // kernel's Long-input path starts from the same xxhash64 base, so
    // the sketch is bit-identical to the string form
    val sh = shingledHashed(s, dir)
    // native one-pass sketch (HashKernels.minhash64): 32 splitmix
    // derivations per pre-hashed shingle, vs the interpreted
    // `transform(sequence(0,31), k -> array_min(transform(sh, t ->
    // xxhash64(t,k))))` chain that re-hashed every shingle 32× through
    // per-element lambda dispatch (44 s of one early bench run)
    val bandsE = "transform(sequence(0, 15), j -> " +
      "xxhash64(element_at(mhs, 2*j+1), element_at(mhs, 2*j+2)))"
    val buckets = Stored.checkpoint(sh
      .select(col("doc_id"),
        graft.functions.GraftFunctions.minhash64(col("sh"), 32).as("mhs"))
      .select(col("doc_id"), posexplode(expr(bandsE)).as(Seq("band", "bucket")))).df
    val cands = buckets.as("x").join(buckets.as("y"),
        col("x.band") === col("y.band") &&
        col("x.bucket") === col("y.bucket") &&
        col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
      .distinct()
    verifiedPairs(sh, cands)
  }

  val q33MinhashLshDup = Q(
    "q33_minhash_lsh_dup",
    (s, dir) => lshPairs(s, dir).orderBy(col("id_a"), col("id_b")),
    q32NearDupPairs.oracle,
    "near-dup via banded minhash-LSH: xxhash64-long sketches, stored frames, candidates only within (band, bucket); shuffle O(n·bands), never all-pairs")

  // ---------------------------------------------------------------------
  // Similarity search
  // ---------------------------------------------------------------------

  /** Brute-force exact top-k cosine: the correctness baseline for ANN.
    * The 10-vector query set is broadcast; the corpus streams through one
    * scan with no shuffle until the final k·|queries| window.
    *
    * Dot products use the native [[graft.functions.VecDistKernels.dotDD]]
    * kernel (the `dot` handle) — same left-to-right fold as the HOF
    * chain it replaced and as the DuckDB oracle's list_reduce, so the
    * doubles stay bit-identical while the per-row cost drops from
    * interpreted HigherOrderFunction eval to a fused primitive loop.
    */
  val q34TopkCosine = Q(
    "q34_topk_cosine",
    (s, dir) => {
      import graft.functions.GraftFunctions.dot
      val e = T.embeddings(s, dir)
        .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
        .select(col("vec_id"), col("v"), sqrt(dot(col("v"), col("v"))).as("nrm"))
      val q = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      // broadcast: no equi-key; 10 rows estimated at 4.5 MB at sf1, linear — past 10 MB a CartesianProduct
      val scored = e.join(broadcast(q), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cosine"))
      // top-5 per query via the bounded TopKAggregator (round 21,
      // guide §2.2): the row_number window shuffled the whole
      // corpus×queries scored frame to rank it; the aggregator's
      // map-side partial reduces each partition to ≤ 5 rows per query
      // before the exchange. The buffer is maintained sorted by
      // (score DESC, key ASC) — the window's exact
      // (cosine DESC, neighbor_id ASC) order — so posexplode's
      // position + 1 IS the window's row_number for the kept rows.
      val topQ = udaf(new graft.functions.TopKAggregator(5))
      scored.groupBy(col("query_id"))
        .agg(topQ(col("neighbor_id"), col("cosine")).as("tops"))
        .select(col("query_id"), posexplode(col("tops")).as(Seq("p", "t")))
        .select(col("query_id"), (col("p") + 1).as("rank"),
          col("t.key").as("neighbor_id"), col("t.score").as("cosine"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some("""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        FROM embeddings),
      n AS (
        SELECT vec_id, v,
          sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) nrm
        FROM e),
      p AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_reduce(list_transform(generate_series(1, len(q.v)),
            i -> q.v[i]*c.v[i]), (x,y) -> x+y) / (q.nrm*c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      r AS (
        SELECT query_id, neighbor_id, cosine,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rank
        FROM p)
      SELECT query_id, rank, neighbor_id, cosine FROM r
      WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "exact top-k cosine: broadcast query set, one corpus scan, sequenced-fold dot product (bit-identical doubles both engines)")

  // ---------------------------------------------------------------------
  // Fingerprinting
  // ---------------------------------------------------------------------

  /** 16-bit SimHash over distinct tokens: bit b of the fingerprint is set
    * iff a strict majority of token-hash bits at position b are 1. Token
    * hash = first 4 hex chars of md5 (engine-identical). The majority
    * vote runs in the native [[graft.functions.HashKernels.simhash]] codegen
    * kernel (one fused loop) rather than 16 interpreted filter passes;
    * the DuckDB oracle keeps the independent CASE-chain formulation.
    */
  val q36Simhash = Q(
    "q36_simhash",
    (s, dir) =>
      T.documents(s, dir)
        .select(col("doc_id"),
          array_distinct(split(lower(col("text")), " ")).as("toks"))
        // sort on the narrow pre-hash frame (the q41 lesson): the range
        // sampler re-executes only scan+split, and the md5+majority-vote
        // kernels run once, parallel across the range partitions
        .orderBy(col("doc_id"))
        .select(col("doc_id"),
          graft.functions.GraftFunctions.simhash(
            graft.functions.GraftFunctions.md5Longs(col("toks"), 4), 16)
            .cast("int").as("simhash16")),
    Some {
      val fp = (0 until 16).map { b =>
        val p = 1 << b
        s"(CASE WHEN 2*len(list_filter(vals, v -> (v // $p) % 2 = 1)) > len(vals) THEN $p ELSE 0 END)"
      }.mkString(" + ")
      s"""
      WITH d AS (
        SELECT doc_id,
          list_transform(list_distinct($oracleToksSql),
            t -> ('0x' || substr(md5(t), 1, 4))::INT) AS vals
        FROM documents)
      SELECT doc_id, CAST($fp AS INTEGER) AS simhash16
      FROM d ORDER BY doc_id""".stripMargin
    },
    "SimHash document fingerprint: near-dup docs land on near-identical fingerprints; integer majority vote, engine-exact")

  // ---------------------------------------------------------------------
  // Asymmetric containment (near-superset) dedup
  // ---------------------------------------------------------------------

  /** Directed containment pairs: (a, b) where >= 90% of a's distinct
    * 3-shingles also appear in b — the doc-INSIDE-doc detector
    * (quotes, mirrored excerpts, boilerplate-wrapped copies) that
    * symmetric Jaccard misses: a short doc fully quoted inside a long
    * one has high containment but low Jaccard, so q32/q33 never
    * surface it. Directional by construction (containment divides by
    * |a| only), and containment >= jaccard always, so this is a strict
    * superset detector of the q32 family at equal thresholds.
    *
    * Scale shape: q32's rarest-first prefix filter, applied on the
    * CONTAINED side only — if b holds >= ceil(0.9|a|) of a's shingles,
    * at most |a| - ceil(0.9|a|) can miss, so a's first
    * |a| - ceil(0.9|a|) + 1 shingles (rarest first) must hit b. The
    * index side must stay FULL (a superset b has no prefix bound — the
    * asymmetry of the problem), so candidates are
    * prefix(a) ⋈ full(b) on the shingle key, then one exact verify
    * per candidate. Like q32 the index rides `xxhash64(shingle)` int64
    * keys (cross-doc collisions only add candidates that exact
    * verification rejects; recall holds up to within-doc 64-bit
    * collisions — see q32's prefix-slot caveat), so the df window, the
    * prefix window, and the candidate join all shuffle 8-byte keys. Oracle = the naive all-pairs
    * containment join (O(n^2) in DuckDB, so sf0.01-gated like q32's).
    */
  val q94ContainmentDedup = Q(
    "q94_containment_dedup",
    (s, dir) => {
      val sh = shingledHashed(s, dir)
      val inv = sh.select(col("doc_id"), size(col("sh")).as("n"),
        explode(col("sh")).as("shk"))
      val wDf = Window.partitionBy(col("shk"))
      val w = Window.partitionBy(col("doc_id")).orderBy(col("df"), col("shk"))
      val prefixA = inv.withColumn("df", count(lit(1)).over(wDf))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= col("n") - ceil(col("n") * 0.9).cast("int") + 1)
        .select(col("doc_id").as("id_a"), col("shk"))
      val cands = prefixA
        .join(inv.select(col("doc_id").as("id_b"), col("shk")), "shk")
        .filter(col("id_a") =!= col("id_b"))
        .select(col("id_a"), col("id_b")).distinct()
      val a = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
      val b = sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b"))
      cands.join(a, "id_a").join(b, "id_b")
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
            / size(col("sh_a"))).as("containment"))
        .filter(col("containment") >= 0.9)
        .orderBy(col("id_a"), col("id_b"))
    },
    Some(s"""
      WITH s AS (
        SELECT doc_id,
          list_distinct(list_transform(generate_series(1, len(toks)-2),
            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])) AS sh
        FROM (SELECT doc_id, $oracleToksSql toks FROM documents)
        WHERE len(toks) >= 3)
      SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh)
          AS containment
      FROM s a JOIN s b ON a.doc_id <> b.doc_id
      WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE) / len(a.sh) >= 0.9
      ORDER BY id_a, id_b""".stripMargin),
    "directed containment dedup (doc-inside-doc): contained-side-only prefix filter (index side must stay full — the problem's asymmetry), shingle-keyed candidate join, exact verify; catches quoted/excerpted copies Jaccard misses")

  val all: Seq[Q] = Seq(
    q29ExactDedup, q30TokenFreq, q31DocDistinctTokens,
    q32NearDupPairs, q33MinhashLshDup, q34TopkCosine,
    q35LangQuality, q36Simhash, q61SentimentLexicon, q62QualityFilter,
    q94ContainmentDedup)
}
