package graft.queries

import graft.{Q, Tables => T}
import graft.ops.Stored
import org.apache.spark.sql.functions._

/** Sixth capability wave — retrieval infrastructure: embedding-space
  * CLUSTERING (q117 is the k-means job q60's IVF scaladoc promises),
  * product-quantization ADC search (q119, the residency tier of the
  * similarity family), and sparse lexical retrieval (q120, the
  * inverted-index complement to the dense ANN queries).
  *
  * Shared discipline with the rest of the registry: engine-exact
  * arithmetic (fixed-point integer accumulation, pinned-order double
  * folds), keyed/monoid shuffles only, zero driver-side data movement.
  */
object ClusterOps {

  import graft.Qdsl.{oracleToksSql, toksSql}

  private val embDim = 64
  private val kClusters = 8
  private val lloydIters = 3

  /** The embeddings as 2^24-quantized coordinates (vec_id, xq), stored:
    * the k-means and PQ queries read them in every round and branch. */
  private def quantizedVectors(s: org.apache.spark.sql.SparkSession, dir: String)
      : Stored = Stored.checkpoint(T.embeddings(s, dir)
    .select(col("vec_id"), graft.ops.KMeans.quantize(col("embedding")).as("xq")))

  // The DuckDB twin of ops/KMeans.distExpr: same subtraction, same
  // square, same fold order over dims 1..64. Spark's fold seeds with 0D;
  // 0.0 + d == d exactly for the non-negative squares, so the two folds
  // are bit-identical.
  private def duckDist(xq: String, mu: String): String =
    s"""list_reduce(list_transform(generate_series(1, $embDim),
       |            i -> (CAST($xq[i] AS DOUBLE) - $mu[i]) * (CAST($xq[i] AS DOUBLE) - $mu[i])),
       |           (x, y) -> x + y)""".stripMargin

  private def duckIter(t: Int): String = {
    val prev = s"c${t - 1}"
    s"""      a$t AS (
       |        SELECT vec_id, cid, dist, xq FROM (
       |          SELECT d.*, ROW_NUMBER() OVER (PARTITION BY vec_id
       |                        ORDER BY dist ASC, cid ASC) rn
       |          FROM (
       |            SELECT e.vec_id, c.cid, e.xq,
       |              ${duckDist("e.xq", "c.mu")} AS dist
       |            FROM e CROSS JOIN $prev c) d) WHERE rn = 1),
       |      s$t AS (
       |        SELECT cid, i, SUM(xq[i]) AS sx, COUNT(*) AS cnt
       |        FROM a$t CROSS JOIN g GROUP BY cid, i),
       |      c$t AS (
       |        SELECT p.cid,
       |          CASE WHEN COUNT(s.i) = 0 THEN any_value(p.mu)
       |               ELSE list(CAST(s.sx AS DOUBLE) / CAST(s.cnt AS DOUBLE) ORDER BY s.i)
       |          END AS mu
       |        FROM $prev p LEFT JOIN s$t s ON s.cid = p.cid GROUP BY p.cid)""".stripMargin
  }

  // -------------------------------------------------------------------
  // q117 — Lloyd's k-means codebook training (fixed-point, exact)
  // -------------------------------------------------------------------

  /** Three full Lloyd rounds, k=8, deterministic init (vec_id < k), over
    * 2^24-quantized coordinates (ops/KMeans.scala for the determinism
    * contract and the constant-shuffle scale argument). Output is the
    * per-cluster training summary of the FINAL round: member count,
    * exact integer dim-0 centroid sum (the reproducibility witness — it
    * must match DuckDB to the last bit or the whole reduction is
    * order-dependent), the dim-0 mean, and the min/max squared distance
    * of the members to the centroid that claimed them.
    *
    * Scale: per round the corpus is never shuffled — assignment is a
    * map-side fold against a broadcast k·dim array, the update's monoid
    * partial-agg moves O(partitions·k·dim) bytes. 100 TB cost = iters
    * linear scans, shuffle constant.
    */
  val q117KmeansLloyd = Q(
    "q117_kmeans_lloyd",
    (s, dir) => {
      import graft.ops.KMeans
      val e = quantizedVectors(s, dir).df
      val (assigned, _) = KMeans.run(e, kClusters, embDim, lloydIters)
      val vsum = udaf(new graft.functions.VecSumLong(embDim))
      assigned.groupBy(col("cid"))
        .agg(count(lit(1)).as("n_members"),
          vsum(col("xq")).as("sv"),
          min(col("dist")).as("min_dist"),
          max(col("dist")).as("max_dist"))
        .select(col("cid").as("cluster_id"),
          col("n_members"),
          element_at(col("sv"), 1).as("sum_q0"),
          (element_at(col("sv"), 1).cast("double") /
            col("n_members").cast("double")).as("mu0"),
          col("min_dist"), col("max_dist"))
        .orderBy(col("cluster_id"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT)) AS xq
        FROM embeddings),
      g AS (SELECT unnest(generate_series(1, $embDim)) AS i),
      c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cid,
          list_transform(xq, q -> CAST(q AS DOUBLE)) AS mu
        FROM e WHERE vec_id < $kClusters),
${(1 to lloydIters).map(duckIter).mkString(",\n")}
      SELECT cid AS cluster_id,
        CAST(COUNT(*) AS BIGINT) AS n_members,
        CAST(SUM(xq[1]) AS BIGINT) AS sum_q0,
        CAST(SUM(xq[1]) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS mu0,
        MIN(dist) AS min_dist,
        MAX(dist) AS max_dist
      FROM a$lloydIters GROUP BY cid ORDER BY cluster_id""".stripMargin),
    "distributed Lloyd k-means codebook training: 2^24 fixed-point coords make the centroid reduction associative (bit-reproducible under any partitioning); assignment = map-side fold vs broadcast codebook, update = monoid partial agg — per-iteration shuffle O(partitions*k*dim), constant in corpus size")

  // -------------------------------------------------------------------
  // q119 — product-quantization ADC search
  // -------------------------------------------------------------------

  private val pqSub = 8 // subspaces
  private val pqDsub = embDim / pqSub // dims per subspace
  private val pqK = 8 // codewords per subspace

  /** Product quantization with asymmetric distance computation (Jégou,
    * Douze & Schmid, TPAMI'11 §IV) — the memory end of the similarity
    * family: q34 exact / q43 LSH / q60 IVF / q105 int8 / q108 two-stage
    * reduce SCAN cost; PQ reduces RESIDENCY. The 64-dim vector (256 B
    * as float) is encoded as 8 codeword ids (8 B — a 32× compression),
    * one per 8-dim subspace, and query-to-vector distance is
    * approximated by table lookups: per query precompute the 8×8 table
    * of (sub-query ↔ codeword) distances, then any corpus vector's
    * approximate distance is the sum of 8 table entries — no float
    * vector ever touched at scan time.
    *
    * Codebooks here are the sub-vectors of vecs 0–7 — the same
    * data-sampled stand-in as q60's coarse centroids; the TRAINED
    * codebook is q117's k-means applied per subspace (PqSpec pins that
    * composition and that training strictly reduces distortion).
    *
    * Determinism: every distance is the pinned 8-dim fold; encode
    * argmin is (dist ASC, cid ASC); the ADC sum folds subspaces in
    * ascending order — engine-identical end to end, like q117.
    *
    * Scale shape: codebook = 64 rows → one broadcast; encode is a
    * map-side fold per corpus row (no shuffle); the scored frame is
    * corpus×queries with only (id, 8 codes) per row, and the top-k
    * window shuffles candidate ids, never vectors. At 100 TB the
    * PQ-coded corpus is the only thing resident (8 B/vec), exactly why
    * IVF-PQ is the standard billion-vector layout.
    */
  val q119PqAdc = Q(
    "q119_pq_adc",
    (s, dir) => {
      val e = quantizedVectors(s, dir).df
      // flat codebook, sorted by (subspace, codeword id): 64 rows → 1
      val cbl = e.filter(col("vec_id") < pqK)
        .select(col("vec_id").cast("int").as("cid"),
          expr(s"""posexplode(transform(sequence(0, ${pqSub - 1}),
                   jj -> transform(slice(xq, jj * $pqDsub + 1, $pqDsub),
                                   q -> cast(q as double))))""")
            .as(Seq("jj", "mu")))
        .agg(sort_array(collect_list(struct(col("jj"), col("cid"), col("mu"))))
          .as("cbl"))
      val subDist = (vec: String, ct: String) =>
        s"""aggregate(zip_with(slice($vec, jj * $pqDsub + 1, $pqDsub), $ct.mu,
           |  (a, b) -> (cast(a as double) - b) * (cast(a as double) - b)),
           |  0D, (s, x) -> s + x)""".stripMargin
      // encode: 8 codeword ids per corpus vector, map-side only — the
      // compiled pq_encode kernel (guide §4): the interpreted
      // transform/aggregate HOF chain dispatched sub×k×dsub lambdas per
      // corpus row; the kernel is the identical fold/tie rule (see
      // VecDistKernels.pqEncode) fused into the scan's codegen stage
      val coded = e.join(cbl)
        .select(col("vec_id"),
          graft.functions.GraftFunctions
            .pqEncode(col("xq"), col("cbl"), pqSub, pqDsub, pqK).as("codes"))
      // per-query distance tables: qdt[jj][c] = dist(sub_jj(q), cb[jj][c])
      val queries = e.filter(col("vec_id") < 10).join(cbl)
        .select(col("vec_id").as("query_id"), expr(s"""
          transform(sequence(0, ${pqSub - 1}), jj ->
            transform(slice(cbl, jj * $pqK + 1, $pqK), ct ->
              ${subDist("xq", "ct")}))""").as("qdt"))
      // ADC via the compiled pq_adc lookup-sum (guide §4 —
      // same ascending-jj fold as the aggregate(sequence(...)) chain,
      // minus 8 interpreted element_at dispatches per corpus×query row)
      // broadcast: no equi-key; 10 rows estimated at 5.1 MB at sf1, linear — past 10 MB a CartesianProduct
      val scored = coded.join(broadcast(queries),
          col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.functions.GraftFunctions
            .pqAdc(col("codes"), col("qdt")).as("adist"))
      // top-5 per query via the bounded TopKAggregator (guide §2.2 —
      // the q34/q108 pattern): map-side partial cuts to
      // ≤ 5 rows per query before the exchange, vs the window
      // shuffling the whole corpus×queries ADC frame. Ascending adist
      // rides as score = −adist (exact IEEE sign flip, negated back on
      // output: −(−x) ≡ x bitwise for non-NaN, and adist is a sum of
      // squares); (score DESC, key ASC) ≡ the window's
      // (adist ASC, neighbor_id ASC), posexplode pos + 1 ≡ row_number.
      val topQ = udaf(new graft.functions.TopKAggregator(5))
      scored.groupBy(col("query_id"))
        .agg(topQ(col("neighbor_id"), -col("adist")).as("tops"))
        .select(col("query_id"), posexplode(col("tops")).as(Seq("p", "t")))
        .select(col("query_id"), (col("p") + 1).as("rank"),
          col("t.key").as("neighbor_id"), (-col("t.score")).as("adist"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT)) AS xq
        FROM embeddings),
      g AS (SELECT unnest(generate_series(0, ${pqSub - 1})) AS jj),
      cbsub AS (
        SELECT CAST(cb.vec_id AS INTEGER) AS cid, g.jj,
          list_transform(cb.xq[g.jj * $pqDsub + 1 : g.jj * $pqDsub + $pqDsub],
            q -> CAST(q AS DOUBLE)) AS mu
        FROM e cb CROSS JOIN g WHERE cb.vec_id < $pqK),
      dists AS (
        SELECT e.vec_id, c.jj, c.cid,
          list_reduce(list_transform(generate_series(1, $pqDsub),
            i -> (CAST(e.xq[c.jj * $pqDsub + i] AS DOUBLE) - c.mu[i])
               * (CAST(e.xq[c.jj * $pqDsub + i] AS DOUBLE) - c.mu[i])),
            (x, y) -> x + y) AS dist
        FROM e CROSS JOIN cbsub c),
      codes AS (
        SELECT vec_id, jj, cid AS code FROM (
          SELECT vec_id, jj, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, jj
                               ORDER BY dist ASC, cid ASC) rn
          FROM dists) WHERE rn = 1),
      dtab AS (
        SELECT vec_id AS query_id, jj, cid, dist
        FROM dists WHERE vec_id < 10),
      adc AS (
        SELECT d.query_id, c.vec_id AS neighbor_id,
          list_reduce(list(d.dist ORDER BY d.jj), (x, y) -> x + y) AS adist
        FROM codes c JOIN dtab d ON d.jj = c.jj AND d.cid = c.code
        WHERE c.vec_id <> d.query_id
        GROUP BY d.query_id, c.vec_id),
      r AS (
        SELECT query_id, neighbor_id, adist,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY adist ASC, neighbor_id ASC) AS INTEGER) AS rank
        FROM adc)
      SELECT query_id, rank, neighbor_id, adist FROM r
      WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "product-quantization ADC search: 64-dim vector -> 8 codeword bytes (32x residency cut), per-query 8x8 distance table, approximate distance = 8 pinned-order lookups — encode is a map-side broadcast fold, the scan never touches a float vector; codebook training = q117's k-means per subspace (PqSpec)")

  // -------------------------------------------------------------------
  // q120 — sparse lexical retrieval (inverted index, integer-exact)
  // -------------------------------------------------------------------

  /** Sparse retrieval — the lexical complement to the dense family
    * (q34/q43/q60/q108/q119): top-k documents per query document by an
    * inverted-index match score. Terms are token 3-GRAM shingles, not
    * tokens: the corpus vocabulary is ~31 words shared by ~80% of
    * documents (the q42 scaladoc's measurement), so token-level df is
    * uniformly stopword-like, while the 16k+ shingles are
    * discriminative — the same reason the whole near-dup family keys
    * on shingles. The scoring follows q66's RATIONAL idf convention
    * (tf·(N·256 div df), no transcendentals — q109 measured 1-ulp
    * ln() divergence between libms, so every engine-exact score in
    * this registry is integer arithmetic), with idf applied ONCE
    * (query-side weighting, the classic term-at-a-time accumulator
    * form): score(q,d) = Σ_g tf_q·tf_d·W_g. Pure int64 — exact under
    * any partitioning and any accumulation order, the same argument
    * as q117's centroid sums. Overflow bound: N·256·tf_q·tf_d·|shared
    * grams| must stay < 2^63 (SparseRetrievalSpec pins ≥2^10 margin).
    *
    * Stop-phrase guard: grams with df·4 > N carry no signal and
    * quadratic posting lists — dropped BEFORE the match join (the
    * standard posting-truncation move), bounding per-gram fanout at
    * N/4 so a corpus-universal phrase cannot become a hot key.
    *
    * Scale shape: gram derivation rides the codegen NGramKernel
    * (q115's lesson — interpreted HOF chains cost ~10 s/scan); tf and
    * df are single hash-aggs over the exploded (doc, gram-hash)
    * frame; the match join hashes the 10-query posting side
    * (broadcast-sized by construction) against corpus postings keyed
    * on xxhash64(gram) — 8-byte keys, never gram text (q115's
    * convention; the DuckDB oracle joins on the gram STRING, so the
    * hash-vs-string dual doubles as the collision audit,
    * SparseRetrievalSpec). The only corpus-wide shuffles are the two
    * hash-aggs and the (query, doc) partial agg.
    */
  /** The shared gram-posting build consumed by q120 and q121's sparse
    * arm (factored round 17 — the two ~25-line copies had drifted-edit
    * risk on the checkpoint placements): tf → df-filtered weights →
    * joined postings (doc_id, h, tf, wt).
    *
    * Both stores are load-bearing. `tf` is the corpus-scale pass
    * (explode → hash → count) and occurs FOUR times downstream —
    * `postings` appears on both the query side (filter) and the scan
    * side of the match join, and each `postings` contains tf twice
    * (directly and inside wt's document-frequency agg). Catalyst does
    * not share identical subplans; unmaterialized, the corpus exploded
    * 4× (the q107 lesson; solo walls 1.73→1.40 / 2.30→1.52 s).
    * `wt` occurs twice for the same reason; its frame is df-filtered
    * vocabulary — tiny at any scale. */
  private def gramPostings(s: org.apache.spark.sql.SparkSession, dir: String)
      : org.apache.spark.sql.DataFrame = {
    val tf = Stored.checkpoint(T.documentsSpread(s, dir)
      .select(col("doc_id"),
        expr(s"filter($toksSql, t -> t <> '')").as("ts"))
      .filter(size(col("ts")) >= 3)
      .select(col("doc_id"),
        explode(graft.functions.GraftFunctions.ngrams(col("ts"), 3)).as("g"))
      .select(col("doc_id"), xxhash64(col("g")).as("h"))
      .groupBy(col("doc_id"), col("h"))
      .agg(count(lit(1)).as("tf"))).df
    val ndocs = T.documents(s, dir).agg(count(lit(1)).as("n"))
    val wt = Stored.checkpoint(tf.groupBy(col("h")).agg(count(lit(1)).as("df"))
      .join(ndocs)
      .filter(col("df") * 4 <= col("n"))
      .select(col("h"), expr("(n * 256) div df").as("wt"))).df
    tf.join(wt, "h")
  }

  val q120SparseRetrieval = Q(
    "q120_sparse_retrieval",
    (s, dir) => {
      import s.implicits._
      val postings = gramPostings(s, dir)
      val qside = postings.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("h"),
          col("tf").as("tfq"))
      // broadcast: unhinted, q120 ran 15 → 18 jobs and shuffled 2.0 → 5.9 MB at sf0.1
      val scored = postings.join(broadcast(qside), "h")
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id"))
        .agg(sum(col("tfq") * col("tf") * col("wt")).as("score"),
          count(lit(1)).as("n_shared"))
      // round-22 rank cut: the row_number window became the payload-
      // carrying EXACT-INT64 top-k aggregator (TopKLongAggregator) —
      // (score DESC, doc_id ASC) compared on the raw longs, so the
      // order matches the window at ANY int64 magnitude (a double-
      // buffered score would collapse ties past 2^53). posexplode
      // pos + 1 ≡ row_number (the q34 convention). Paired sf1 A/B,
      // both orders: window 3.83/3.78 s vs aggregator 3.29/3.28 s
      // (~14%); shuffle bytes identical (WindowGroupLimit already
      // bounded the exchange) — the win is the reduce-side hash-merge
      // replacing the per-group sort+rank and the map-side local sort.
      val topk = new graft.functions.TopKLongAggregator(5).toColumn
      scored
        .select(col("query_id"), col("doc_id"), col("score"), col("n_shared"))
        .as[(Long, Long, Long, Long)]
        .groupByKey(_._1)
        .mapValues(t => graft.functions.ScoredL(t._2, t._3, t._4))
        .agg(topk.name("tops"))
        .toDF("query_id", "tops")
        .select(col("query_id"), posexplode(col("tops")))
        .select(col("query_id"), (col("pos") + 1).as("rank"),
          col("col.key").as("neighbor_id"), col("col.score").as("score"),
          col("col.payload").as("n_shared"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      g AS (
        SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS gram
        FROM d, UNNEST(generate_series(1, len(ts) - 2)) AS u(i)
        WHERE len(ts) >= 3),
      tf AS (
        SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS tf
        FROM g GROUP BY doc_id, gram),
      nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      w AS (
        SELECT gram, (n * 256) // df AS wt
        FROM (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY gram)
        CROSS JOIN nd WHERE df * 4 <= n),
      p AS (
        SELECT tf.doc_id, tf.gram, tf.tf, w.wt FROM tf JOIN w USING (gram)),
      q AS (
        SELECT doc_id AS query_id, gram, tf AS tfq FROM p WHERE doc_id < 10),
      sc AS (
        SELECT q.query_id, p.doc_id,
          CAST(SUM(q.tfq * p.tf * p.wt) AS BIGINT) AS score,
          CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM p JOIN q ON p.gram = q.gram
        WHERE p.doc_id <> q.query_id
        GROUP BY q.query_id, p.doc_id),
      r AS (
        SELECT query_id, doc_id AS neighbor_id, score, n_shared,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
        FROM sc)
      SELECT query_id, rank, neighbor_id, score, n_shared FROM r
      WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "sparse lexical retrieval over 3-gram shingle postings: rational idf (q66 convention, transcendental-free), pure int64 scoring exact under any partitioning; stop-phrase df-cutoff bounds posting fanout; codegen gram kernel + 8-byte hashed keys vs a broadcast query-posting side (string-keyed DuckDB dual = collision audit)")

  // -------------------------------------------------------------------
  // q121 — hybrid retrieval: reciprocal-rank fusion of dense + sparse
  // -------------------------------------------------------------------

  /** Hybrid search — the step every modern retrieval stack runs after
    * q34's dense and q120's sparse lists exist separately: reciprocal-
    * rank fusion (Cormack, Clarke & Büttcher, SIGIR'09) of the two
    * top-20 lists, fused(q,d) = Σ_lists 1/(K + rank), K = 60. RRF is
    * rank-only — scores from incompatible scales (cosine vs integer
    * match weight) never mix, which is exactly why it is the standard
    * fusion — and 1/(60+r) for integer r is one IEEE division, so the
    * fused score is engine-identical without any of the float-sum
    * machinery.
    *
    * The id universes OVERLAP but differ (embeddings cover a prefix of
    * the doc axis — 2,000 of 5,000 ids at sf0.1): fusion runs over the
    * union of candidates, an absent list contributes nothing — the
    * partial-embedding-coverage shape a real migration to hybrid
    * search actually has (absence is reported as rank 0, not NULL, so
    * the driver's pandas compare never sees nullable ints).
    *
    * Scale shape: strictly the union of the two parents' plans (one
    * broadcast-queries corpus scan each) plus a (query, id)-keyed
    * full-outer join of two ≤20-row-per-query rank lists — the fusion
    * itself is candidate-sized, never corpus-sized.
    */
  val q121HybridRrf = Q(
    "q121_hybrid_rrf",
    (s, dir) => {
      import graft.functions.GraftFunctions.dot
      import org.apache.spark.sql.expressions.Window
      // dense arm: q34's exact cosine, cut at top-20
      val e = T.embeddings(s, dir)
        .select(col("vec_id"), expr("transform(embedding, x -> cast(x as double))").as("v"))
        .select(col("vec_id"), col("v"), sqrt(dot(col("v"), col("v"))).as("nrm"))
      val qv = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qn"))
      // dense top-20 via the bounded TopKAggregator (round 21 — the
      // q34 pattern; posexplode pos+1 IS the window's row_number, and
      // RRF consumes exactly that rank). The sparse arm below KEEPS
      // its window: its score is exact int64 (doubles could misorder
      // ties past 2^53 at scale) and its input is already the
      // aggregated candidate frame.
      val topD = udaf(new graft.functions.TopKAggregator(20))
      // broadcast: no equi-key; 10 rows estimated at 4.5 MB at sf1, linear — past 10 MB a CartesianProduct
      val dense = e.join(broadcast(qv), col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          (dot(col("qv"), col("v")) / (col("qn") * col("nrm"))).as("cosine"))
        .groupBy(col("query_id"))
        .agg(topD(col("neighbor_id"), col("cosine")).as("tops"))
        .select(col("query_id"), posexplode(col("tops")).as(Seq("p", "t")))
        .select(col("query_id"), col("t.key").as("neighbor_id"),
          (col("p") + 1).as("rd"))
      // sparse arm: q120's gram postings (shared gramPostings build —
      // tf/wt checkpoints documented there), cut at top-20. Rejected
      // experiment (round 22): the TopKLongAggregator form (q120's
      // adopted move) measured flat here in paired sf1 A/Bs — q121's
      // wall is dominated by the dense cosine arm, and the Partial
      // WindowGroupLimit already bounds this window's exchange — so
      // the window stays.
      val postings = gramPostings(s, dir)
      val qsideS = postings.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("h"), col("tf").as("tfq"))
      val wS = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("neighbor_id"))
      // broadcast: unhinted, q121 ran 21 → 24 jobs and shuffled 2.0 → 5.9 MB at sf0.1
      val sparse = postings.join(broadcast(qsideS), "h")
        .filter(col("doc_id") =!= col("query_id"))
        .groupBy(col("query_id"), col("doc_id").as("neighbor_id"))
        .agg(sum(col("tfq") * col("tf") * col("wt")).as("score"))
        .withColumn("rs", row_number().over(wS))
        .filter(col("rs") <= 20)
        .select(col("query_id"), col("neighbor_id"), col("rs"))
      // fusion over the candidate union; absent list -> rank 0
      val fusedExpr =
        expr("""coalesce(cast(1 as double) / cast(60 + rd as double), 0D)
               | + coalesce(cast(1 as double) / cast(60 + rs as double), 0D)""".stripMargin)
      val wF = Window.partitionBy(col("query_id"))
        .orderBy(col("fused").desc, col("neighbor_id"))
      dense.join(sparse, Seq("query_id", "neighbor_id"), "full_outer")
        .withColumn("fused", fusedExpr)
        .withColumn("rank", row_number().over(wF))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("fused"),
          coalesce(col("rd"), lit(0)).as("dense_rank"),
          coalesce(col("rs"), lit(0)).as("sparse_rank"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        FROM embeddings),
      n AS (
        SELECT vec_id, v,
          sqrt(list_reduce(list_transform(v, x -> x*x), (x,y) -> x+y)) nrm
        FROM e),
      pd AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
          list_reduce(list_transform(generate_series(1, $embDim),
            i -> q.v[i]*c.v[i]), (x,y) -> x+y) / (q.nrm*c.nrm) AS cosine
        FROM n q JOIN n c ON q.vec_id < 10 AND c.vec_id <> q.vec_id),
      dense AS (
        SELECT query_id, neighbor_id, rd FROM (
          SELECT query_id, neighbor_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY cosine DESC, neighbor_id) AS INTEGER) AS rd
          FROM pd) WHERE rd <= 20),
      d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      g AS (
        SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS gram
        FROM d, UNNEST(generate_series(1, len(ts) - 2)) AS u(i)
        WHERE len(ts) >= 3),
      tf AS (
        SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS tf
        FROM g GROUP BY doc_id, gram),
      nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      w AS (
        SELECT gram, (n * 256) // df AS wt
        FROM (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY gram)
        CROSS JOIN nd WHERE df * 4 <= n),
      p AS (
        SELECT tf.doc_id, tf.gram, tf.tf, w.wt FROM tf JOIN w USING (gram)),
      qs AS (
        SELECT doc_id AS query_id, gram, tf AS tfq FROM p WHERE doc_id < 10),
      sc AS (
        SELECT qs.query_id, p.doc_id AS neighbor_id,
          CAST(SUM(qs.tfq * p.tf * p.wt) AS BIGINT) AS score
        FROM p JOIN qs ON p.gram = qs.gram
        WHERE p.doc_id <> qs.query_id
        GROUP BY qs.query_id, p.doc_id),
      sparse AS (
        SELECT query_id, neighbor_id, rs FROM (
          SELECT query_id, neighbor_id,
            CAST(ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY score DESC, neighbor_id) AS INTEGER) AS rs
          FROM sc) WHERE rs <= 20),
      f AS (
        SELECT COALESCE(dense.query_id, sparse.query_id) AS query_id,
          COALESCE(dense.neighbor_id, sparse.neighbor_id) AS neighbor_id,
          COALESCE(CAST(1 AS DOUBLE) / CAST(60 + rd AS DOUBLE), 0)
            + COALESCE(CAST(1 AS DOUBLE) / CAST(60 + rs AS DOUBLE), 0) AS fused,
          COALESCE(rd, 0) AS dense_rank, COALESCE(rs, 0) AS sparse_rank
        FROM dense FULL OUTER JOIN sparse
          ON dense.query_id = sparse.query_id
         AND dense.neighbor_id = sparse.neighbor_id),
      r AS (
        SELECT query_id, neighbor_id, fused, dense_rank, sparse_rank,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY fused DESC, neighbor_id) AS INTEGER) AS rank
        FROM f)
      SELECT query_id, rank, neighbor_id, fused, dense_rank, sparse_rank
      FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "hybrid retrieval: reciprocal-rank fusion (RRF K=60) of the dense cosine and sparse shingle top-20 lists over partially-overlapping id universes — rank-only fusion never mixes incompatible score scales, fused = 2 IEEE divisions (engine-identical); fusion cost is candidate-sized, parents' plans unchanged")

  // -------------------------------------------------------------------
  // q122 — IVF-PQ: cell-routed scan over residual-PQ codes
  // -------------------------------------------------------------------

  private val ivfCells = 8
  private val ivfNprobe = 2

  private val ivfShortlist = 50

  /** Corpus-aware recall dial (round-12 verdict #2): the ADC shortlist
    * scales with the per-cell list size, `max(50, N div cells)`, so the
    * refine stage sees a CONSTANT fraction of each probed list instead
    * of a constant row count — at fixed dials recall@5 fell 0.82 → 0.60
    * across one measured decade (SCALING.md round-11 addendum); with
    * this rule it holds 0.84/0.80 at N=500/2000 (IvfPqSpec pins both).
    * nprobe deliberately stays fixed: the same measurement grid showed
    * raising nprobe at a fixed shortlist can LOWER recall (more ADC
    * noise competing for the same shortlist slots) — cell coverage is
    * not the binding constraint on this corpus, shortlist depth is.
    * At production scale cells grows ~√N, so N/cells (and with it this
    * shortlist) stays bounded; the rule is the same either way. The
    * N is the row count the stored vector frame's own job observed —
    * keeping the limit a LITERAL preserves the WindowGroupLimit
    * rank-pushdown a column-valued limit would forfeit.
    */
  private[queries] def ivfShortlistFor(n: Long): Int =
    math.max(ivfShortlist, (n / ivfCells).toInt)

  /** The composition every parent's scaladoc promises, realized end to
    * end: q117's TRAINED k-means codebook as the coarse quantizer (the
    * first registry query to consume ops/KMeans output downstream),
    * q60's inverted-file routing (probe `ivfNprobe` of `ivfCells`
    * cells, scan only their lists), q119's product quantization on the
    * RESIDUAL x − c(cell(x)) (Jégou, Douze & Schmid, TPAMI'11 §V:
    * residuals concentrate around 0, so one shared codebook covers
    * every cell), and q108's two-stage refine: ADC shortlists
    * `ivfShortlistFor(N)` candidates per query (corpus-aware — see the
    * dial's own scaladoc), exact full-dim re-rank picks the final 5. This is the standard billion-vector serving layout —
    * IVF prunes the scan to nprobe/cells of the corpus, PQ cuts scan
    * residency 32× (8 codes + 1 cell id), and only the ≤50-id
    * shortlist ever fetches a full vector. Measured at sf0.001:
    * recall@5 = 0.12 with ADC alone, 0.84 with the refine stage —
    * which is WHY production IVF-PQ always re-ranks (IvfPqSpec pins
    * the floor).
    *
    * Residual codewords are the registry's deterministic data-sampled
    * stand-in (residuals of vecs 0–7, the q119 convention).
    * Determinism: all distances are pinned ascending-index folds over
    * exact integer-valued doubles (2^24-quantized coords, the q117
    * contract), argmins and rankings break ties on id; the coarse
    * centroids are k-means means — bit-reproducible by VecSumLong's
    * associative integer reduction (q117's oracle is the cross-engine
    * proof).
    *
    * Scale shape: training shuffles O(partitions·k·dim) per round
    * (ops/KMeans); coarse assign + residual + encode are map-side
    * broadcast folds; the scan joins the coded corpus to a broadcast
    * queries×nprobe distance-table frame ON cell_id — at scale the
    * coded list is partitioned by cell_id, so the probe join is
    * partition-pruned and unprobed cells are never read. The refine
    * fetch is an id-keyed join of queries×50 rows against the vector
    * store. No corpus-sized float vector ever shuffles.
    */
  val q122IvfPq = Q(
    "q122_ivfpq_search",
    (s, dir) => {
      import graft.ops.KMeans
      import org.apache.spark.sql.expressions.Window
      val stored = quantizedVectors(s, dir)
      val e = stored.df
      val slN = ivfShortlistFor(stored.rows)
      val (_, cents) = KMeans.run(e, ivfCells, embDim, lloydIters)
      val coarse = cents.select(col("cid").as("cell_id"), col("mu").as("cv"))
      // corpus routing: KMeans.assign's map-side l2argmin fold — same
      // (dist ASC, cid ASC) argmin as a corpus×cells window, with ZERO
      // shuffle (the first cut windowed the corpus×8 frame carrying the
      // 64-double centroid per row: 16.6 MB shuffled at sf1, and
      // superlinear because replica vectors compress worse — the sf1
      // audit caught it); the centroid re-join for the residual is an
      // 8-row broadcast.
      val assigned = KMeans.assign(e, cents)
      val res = Stored.checkpoint(assigned
        .join(coarse, col("cid") === col("cell_id"))
        .select(col("vec_id"), col("cell_id"),
          expr("zip_with(xq, cv, (a, b) -> cast(a as double) - b)").as("r"))).df
      // the QUERY side keeps the explicit distance frame — 10 rows × 8
      // cells, needed for nprobe > 1 ranking, cost-free at any scale
      val cd = e.filter(col("vec_id") < 10).join(coarse)
        .select(col("vec_id"), col("cell_id"), col("cv"), col("xq"),
          graft.functions.GraftFunctions.l2sq(col("xq"), col("cv")).as("cdist"))
      val wAssign = Window.partitionBy(col("vec_id"))
        .orderBy(col("cdist"), col("cell_id"))
      // one shared residual codebook (TPAMI'11 §V), 8 codewords/subspace
      val cbl = res.filter(col("vec_id") < pqK)
        .select(col("vec_id").cast("int").as("cid"),
          expr(s"""posexplode(transform(sequence(0, ${pqSub - 1}),
                   jj -> slice(r, jj * $pqDsub + 1, $pqDsub)))""")
            .as(Seq("jj", "mu")))
        .agg(sort_array(collect_list(struct(col("jj"), col("cid"), col("mu"))))
          .as("cbl"))
      val subDist = (vec: String, ct: String) =>
        s"""aggregate(zip_with(slice($vec, jj * $pqDsub + 1, $pqDsub), $ct.mu,
           |  (a, b) -> (a - b) * (a - b)), 0D, (s, x) -> s + x)""".stripMargin
      // compiled pq_encode kernel over the residuals (guide §4 —
      // identical fold/tie rule to the HOF chain it replaces; the
      // double-input variant of q119's long-input encode)
      val coded = res.join(cbl)
        .select(col("vec_id"), col("cell_id"),
          graft.functions.GraftFunctions
            .pqEncode(col("r"), col("cbl"), pqSub, pqDsub, pqK).as("codes"))
      // probes: per query the nprobe nearest cells; residual is wrt the
      // PROBED cell's centroid (each probed list gets its own table)
      val qdt = cd
        .withColumn("rn", row_number().over(wAssign))
        .filter(col("rn") <= ivfNprobe)
        .select(col("vec_id").as("query_id"), col("cell_id"),
          expr("zip_with(xq, cv, (a, b) -> cast(a as double) - b)").as("qr"))
        .join(cbl)
        .select(col("query_id"), col("cell_id"), expr(s"""
          transform(sequence(0, ${pqSub - 1}), jj ->
            transform(slice(cbl, jj * $pqK + 1, $pqK),
              ct -> ${subDist("qr", "ct")}))""").as("qdt"))
      val scored = coded.join(qdt, Seq("cell_id"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id").as("neighbor_id"),
          graft.functions.GraftFunctions
            .pqAdc(col("codes"), col("qdt")).as("adist"))
      // Shortlist cut stays the row_number WINDOW deliberately
      // (measured): a TopKAggregator(50) conversion here ran 2.99 →
      // 8.31 s at sf1 even with the O(1) fast-reject — the typed
      // udaf's per-row object path (InternalRow → case class + Seq
      // buffer) costs far more than the unsafe-sort window on this
      // multi-million-row probed-cells×queries frame, and the rows are
      // 24 B narrow so the window's shuffle is byte-cheap. The
      // aggregator form wins only where the input is corpus×queries
      // SMALL-k frames (q34/q43/q119) or the partial cut runs inside
      // an already-colocated partition (q139).
      val wAdc = Window.partitionBy(col("query_id"))
        .orderBy(col("adist"), col("neighbor_id"))
      val shortlist = scored.withColumn("srn", row_number().over(wAdc))
        .filter(col("srn") <= slN)
        .select(col("query_id"), col("neighbor_id"), col("adist"))
      // refine: fetch the shortlist's full vectors, exact pinned fold.
      // The shortlist side is BOUNDED (queries × ivfShortlist rows) and
      // broadcasts; the vector store is stored with its measured size,
      // so it stays scan-side unhinted (q122 shuffles 45 KB at sf1).
      val qv = e.filter(col("vec_id") < 10)
        .select(col("vec_id").as("query_id"), col("xq").as("qx"))
      val refined = e.select(col("vec_id").as("neighbor_id"), col("xq").as("nx"))
        .join(shortlist, "neighbor_id")
        .join(qv, "query_id")
        .select(col("query_id"), col("neighbor_id"), col("adist"),
          expr("""aggregate(zip_with(qx, nx,
                    (a, b) -> (cast(a as double) - cast(b as double))
                            * (cast(a as double) - cast(b as double))),
                  0D, (s, x) -> s + x)""").as("dist"))
      val wRank = Window.partitionBy(col("query_id"))
        .orderBy(col("dist"), col("neighbor_id"))
      refined.withColumn("rank", row_number().over(wRank))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"), col("neighbor_id"),
          col("adist"), col("dist"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      WITH e AS (
        SELECT vec_id,
          list_transform(embedding,
            x -> CAST(floor(CAST(x AS DOUBLE) * 16777216.0) AS BIGINT)) AS xq
        FROM embeddings),
      g AS (SELECT unnest(generate_series(1, $embDim)) AS i),
      c0 AS (
        SELECT CAST(vec_id AS INTEGER) AS cid,
          list_transform(xq, q -> CAST(q AS DOUBLE)) AS mu
        FROM e WHERE vec_id < $ivfCells),
${(1 to lloydIters).map(duckIter).mkString(",\n")},
      coarse AS (SELECT cid AS cell_id, mu AS cv FROM c$lloydIters),
      cd AS (
        SELECT e.vec_id, c.cell_id, c.cv, e.xq,
          list_reduce(list_transform(generate_series(1, $embDim),
            i -> (CAST(e.xq[i] AS DOUBLE) - c.cv[i])
               * (CAST(e.xq[i] AS DOUBLE) - c.cv[i])),
            (x, y) -> x + y) AS cdist
        FROM e CROSS JOIN coarse c),
      res AS (
        SELECT vec_id, cell_id,
          list_transform(generate_series(1, $embDim),
            i -> CAST(xq[i] AS DOUBLE) - cv[i]) AS r
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY cdist ASC, cell_id ASC) rn FROM cd)
        WHERE rn = 1),
      gj AS (SELECT unnest(generate_series(0, ${pqSub - 1})) AS jj),
      cb AS (
        SELECT CAST(res.vec_id AS INTEGER) AS cid, gj.jj,
          res.r[gj.jj * $pqDsub + 1 : gj.jj * $pqDsub + $pqDsub] AS mu
        FROM res CROSS JOIN gj WHERE res.vec_id < $pqK),
      rd AS (
        SELECT res.vec_id, c.jj, c.cid,
          list_reduce(list_transform(generate_series(1, $pqDsub),
            i -> (res.r[c.jj * $pqDsub + i] - c.mu[i])
               * (res.r[c.jj * $pqDsub + i] - c.mu[i])),
            (x, y) -> x + y) AS dist
        FROM res CROSS JOIN cb c),
      codes AS (
        SELECT vec_id, jj, cid AS code FROM (
          SELECT vec_id, jj, cid,
            ROW_NUMBER() OVER (PARTITION BY vec_id, jj
                               ORDER BY dist ASC, cid ASC) rn
          FROM rd) WHERE rn = 1),
      probes AS (
        SELECT vec_id AS query_id, cell_id,
          list_transform(generate_series(1, $embDim),
            i -> CAST(xq[i] AS DOUBLE) - cv[i]) AS qr
        FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
                ORDER BY cdist ASC, cell_id ASC) rn
              FROM cd WHERE vec_id < 10)
        WHERE rn <= $ivfNprobe),
      qdt AS (
        SELECT p.query_id, p.cell_id, c.jj, c.cid,
          list_reduce(list_transform(generate_series(1, $pqDsub),
            i -> (p.qr[c.jj * $pqDsub + i] - c.mu[i])
               * (p.qr[c.jj * $pqDsub + i] - c.mu[i])),
            (x, y) -> x + y) AS dist
        FROM probes p CROSS JOIN cb c),
      adc AS (
        SELECT d.query_id, cv2.vec_id AS neighbor_id,
          list_reduce(list(d.dist ORDER BY d.jj), (x, y) -> x + y) AS adist
        FROM (SELECT co.vec_id, r2.cell_id, co.jj, co.code
              FROM codes co JOIN res r2 USING (vec_id)) cv2
        JOIN qdt d ON d.cell_id = cv2.cell_id AND d.jj = cv2.jj
                  AND d.cid = cv2.code
        WHERE cv2.vec_id <> d.query_id
        GROUP BY d.query_id, cv2.vec_id),
      shortlist AS (
        SELECT query_id, neighbor_id, adist FROM (
          SELECT query_id, neighbor_id, adist,
            ROW_NUMBER() OVER (PARTITION BY query_id
                 ORDER BY adist ASC, neighbor_id ASC) AS srn
          FROM adc)
        WHERE srn <= GREATEST($ivfShortlist,
                              (SELECT COUNT(*) FROM e) // $ivfCells)),
      refined AS (
        SELECT s.query_id, s.neighbor_id, s.adist,
          list_reduce(list_transform(generate_series(1, $embDim),
            i -> (CAST(q.xq[i] AS DOUBLE) - CAST(v.xq[i] AS DOUBLE))
               * (CAST(q.xq[i] AS DOUBLE) - CAST(v.xq[i] AS DOUBLE))),
            (x, y) -> x + y) AS dist
        FROM shortlist s
        JOIN e v ON v.vec_id = s.neighbor_id
        JOIN e q ON q.vec_id = s.query_id),
      r AS (
        SELECT query_id, neighbor_id, adist, dist,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY dist ASC, neighbor_id ASC) AS INTEGER) AS rank
        FROM refined)
      SELECT query_id, rank, neighbor_id, adist, dist FROM r
      WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "IVF-PQ composed retrieval, trained coarse quantizer + refine: q117's k-means routes, residual product-quantization (TPAMI'11 SS-V, one shared codebook) cuts scan residency 32x, ADC shortlists max(50, N div cells)/query (corpus-aware dial: recall@5 holds 0.84/0.80 across a measured 4x corpus step where the fixed dial fell to 0.60), exact re-rank picks 5 — scan joins coded lists to a broadcast distance-table frame ON cell_id, refine fetches a bounded shortlist/query by id")

  // -------------------------------------------------------------------
  // q137 — BM25 top-k (saturated, length-normalized lexical ranking)
  // -------------------------------------------------------------------

  /** BM25 — the production lexical ranking function (Robertson &
    * Spärck Jones' Okapi BM25) q120's linear tf·idf accumulator is the
    * teaching form of: per shared term,
    * idf · tf·(k1+1) / (tf + k1·(1−b + b·dl/avgdl)) — tf SATURATES
    * (the 100th occurrence adds almost nothing, unlike q120's linear
    * tf) and long documents are PENALIZED toward the corpus's average
    * length. Standard constants k1 = 1.2, b = 0.75 taken as the exact
    * rationals 6/5 and 3/4, which closes the whole saturation term
    * over a common denominator: with S = Σ dl (total gram positions)
    * and M = |docs with grams|,
    *   tf·(k1+1) / (tf + k1(1−b+b·dl·M/S))
    *     = 22·S·tf / (10·S·tf + 3·S + 9·dl·M)
    * — a ratio of EXACT int64s (at 10^14 corpus positions and tf
    * ≤ 10^3 the denominator sits under 10^18; int64-safe with the
    * corpus two decades past 100 TB). idf stays q120's rational wt =
    * (N·256) div df with its stop-phrase df·4 > N cutoff.
    *
    * Cross-engine float discipline: each term contribution is ONE
    * pinned IEEE sequence over exact ints —
    * ((tfq·wt)ᴰ · (22·tf)ᴰ · Sᴰ) / (10·S·tf + 3·S + 9·dl·M)ᴰ —
    * identical on both engines; the per-pair SUM of contributions is
    * a float fold, so it runs over the list SORTED by the exact-int
    * triple (tf, tfq, wt) (q109's sorted-fold move): the sorted
    * multiset sequence is engine-identical — ties are bitwise-equal
    * contributions, indifferent to their internal order — and Spark's
    * `aggregate(…, 0.0D, +)` ≡ DuckDB's `list_reduce` because
    * 0 + x = x.
    *
    * Scale shape: rides q120's shared gramPostings build (same two
    * checkpointed hash-aggs); adds one corpus-narrow (doc_id, dl)
    * frame joined candidate-sized, a 2-long broadcast stats row, and
    * the same broadcast-query match join — no new corpus-sized
    * exchange beyond q120's.
    */
  val q137Bm25TopK = Q(
    "q137_bm25_topk",
    (s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val postings = gramPostings(s, dir)
      // documentsSpread, not documents: the per-row tokenize otherwise
      // runs in ONE task on the single-row-group harness parquet (the
      // standing Tables.documentsSpread account)
      // dl fans into BOTH the stats agg and the candidate-sized join:
      // unstored, the corpus tokenize scan runs twice (the standing
      // fan-out convention; frame is the corpus-narrow (doc_id, dl)
      // pair, cheap to pin)
      val dl = Stored.checkpoint(T.documentsSpread(s, dir)
        .select(col("doc_id"),
          expr(s"size(filter($toksSql, t -> t <> ''))").as("nts"))
        .filter(col("nts") >= 3)
        .select(col("doc_id"), (col("nts") - 2).cast("long").as("dl"))).df
      val st = dl.agg(sum(col("dl")).as("s"), count(lit(1)).as("m"))
      val qside = postings.filter(col("doc_id") < 10)
        .select(col("doc_id").as("query_id"), col("h"), col("tf").as("tfq"))
      // broadcast: unhinted, q137 ran 21 → 24 jobs and shuffled 2.9 → 6.8 MB at sf0.1
      val contrib = postings.join(broadcast(qside), "h")
        .filter(col("doc_id") =!= col("query_id"))
        .join(dl, "doc_id")
        .crossJoin(st)
        .select(col("query_id"), col("doc_id"),
          col("tf"), col("tfq"), col("wt"),
          expr("""(cast(tfq * wt as double) * cast(22 * tf as double)
                 | * cast(s as double))
                 | / cast(10*s*tf + 3*s + 9*dl*m as double)""".stripMargin)
            .as("c"))
      val scored = contrib
        .groupBy(col("query_id"), col("doc_id"))
        .agg(collect_list(struct(col("tf"), col("tfq"), col("wt"), col("c")))
            .as("cs"),
          count(lit(1)).as("n_shared"))
        .select(col("query_id"), col("doc_id"),
          expr("aggregate(sort_array(cs), cast(0 as double), (a, x) -> a + x.c)")
            .as("score"),
          col("n_shared"))
      // a row_number window, not a typed top-k aggregator: the Partial
      // WindowGroupLimit below the exchange already bounds this
      // post-agg frame to k rows/group/partition
      val w = Window.partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("doc_id"))
      scored.withColumn("rank", row_number().over(w))
        .filter(col("rank") <= 5)
        .select(col("query_id"), col("rank"),
          col("doc_id").as("neighbor_id"), col("score"), col("n_shared"))
        .orderBy(col("query_id"), col("rank"))
    },
    Some(s"""
      WITH d AS (
        SELECT doc_id,
          list_filter($oracleToksSql, t -> t <> '') AS ts
        FROM documents),
      dlen AS (
        SELECT doc_id, CAST(len(ts) - 2 AS BIGINT) AS dl
        FROM d WHERE len(ts) >= 3),
      st AS (
        SELECT CAST(SUM(dl) AS BIGINT) AS s, CAST(COUNT(*) AS BIGINT) AS m
        FROM dlen),
      g AS (
        SELECT doc_id, array_to_string(ts[i:i+2], ' ') AS gram
        FROM d, UNNEST(generate_series(1, len(ts) - 2)) AS u(i)
        WHERE len(ts) >= 3),
      tf AS (
        SELECT doc_id, gram, CAST(COUNT(*) AS BIGINT) AS tf
        FROM g GROUP BY doc_id, gram),
      nd AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
      w AS (
        SELECT gram, (n * 256) // df AS wt
        FROM (SELECT gram, CAST(COUNT(*) AS BIGINT) AS df
              FROM tf GROUP BY gram)
        CROSS JOIN nd WHERE df * 4 <= n),
      p AS (
        SELECT tf.doc_id, tf.gram, tf.tf, w.wt FROM tf JOIN w USING (gram)),
      q AS (
        SELECT doc_id AS query_id, gram, tf AS tfq FROM p WHERE doc_id < 10),
      c AS (
        SELECT q.query_id, p.doc_id, p.tf, q.tfq, p.wt,
          (CAST(q.tfq * p.wt AS DOUBLE) * CAST(22 * p.tf AS DOUBLE)
           * CAST(st.s AS DOUBLE))
           / CAST(10*st.s*p.tf + 3*st.s + 9*dlen.dl*st.m AS DOUBLE) AS c
        FROM p
        JOIN q ON p.gram = q.gram
        JOIN dlen ON dlen.doc_id = p.doc_id
        CROSS JOIN st
        WHERE p.doc_id <> q.query_id),
      sc AS (
        SELECT query_id, doc_id,
          list_reduce(list(c ORDER BY tf, tfq, wt), (x, y) -> x + y) AS score,
          CAST(COUNT(*) AS BIGINT) AS n_shared
        FROM c GROUP BY query_id, doc_id),
      r AS (
        SELECT query_id, doc_id AS neighbor_id, score, n_shared,
          CAST(ROW_NUMBER() OVER (PARTITION BY query_id
               ORDER BY score DESC, doc_id ASC) AS INTEGER) AS rank
        FROM sc)
      SELECT query_id, rank, neighbor_id, score, n_shared FROM r
      WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    "BM25 top-k (Okapi, k1=1.2 b=0.75 as exact rationals): saturation + length normalization closed over a common denominator - per-term 22*S*tf / (10*S*tf + 3*S + 9*dl*M) with every factor exact int64, idf = q120's rational wt; contribution = one pinned IEEE sequence, per-pair sum = q109's sorted-fold (engine-identical); rides q120's checkpointed posting build, adds no new corpus-sized exchange")

  val all: Seq[Q] =
    Seq(q117KmeansLloyd, q119PqAdc, q120SparseRetrieval, q121HybridRrf,
      q122IvfPq, q137Bm25TopK)
}
