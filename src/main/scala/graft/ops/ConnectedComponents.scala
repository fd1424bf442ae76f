package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Connected components by alternating large-star / small-star — the
  * O(log n)-round MapReduce formulation (Kiveris et al., "Connected
  * Components in MapReduce and Beyond", SoCC'14; public algorithm). It
  * is the engine's one CC primitive: q72/q111 (near-dup clusters),
  * q112 (cluster-safe split), q134 (soft-dedup weights) and q139/q140
  * (mutual-kNN communities) all label through it. Min-label
  * propagation needs O(graph diameter) rounds, which on a 100 TB
  * near-dup graph with chain-shaped duplicate clusters (crawl mirrors
  * of mirrors) can be thousands; star contraction needs O(log n)
  * rounds regardless of diameter, every round two keyed shuffles over
  * the CURRENT edge set, which only shrinks.
  *
  *  - large-star: per node u, link every LARGER neighbor to the
  *    minimum of u's closed neighborhood — safe at any skew because
  *    that minimum is a map-side-combined partial aggregate (never a
  *    window over the hub's full adjacency in one task).
  *  - small-star: per node u, link every neighbor ≤ u (and u) to that
  *    minimum — contracts the stars the large-star built.
  *
  * Both steps preserve connectivity exactly (proved in the paper; the
  * spec pins equality with driver-side union-find on the real pair
  * graph and on generated graphs). Convergence = the edge set is a
  * fixpoint (every node points directly at its component minimum),
  * detected STRUCTURALLY in the round that produces it — the output is
  * a star forest, a per-vertex local property (see `isStarForest`
  * below). One scalar per round, no edge collect. Rounds
  * localCheckpoint: the per-round frames are edge-sized and lineage
  * must not accumulate across O(log n) iterations.
  *
  * Returns (v, lbl): every vertex of the input with its component's
  * minimum vertex id as label.
  */
object ConnectedComponents {

  def largeStarSmallStar(pairs: DataFrame): DataFrame = {
    // canonical directed form: (hi -> lo) for every input edge, plus
    // self-loops dropped; the iteration maintains edges as (src, dst)
    // with no orientation invariant (stars re-orient freely).
    // LAZY checkpoint: round 1's one probe action materializes it —
    // the same lazy-checkpoint-plus-action fold as `large`/`small`
    // below, saving an eager form's dedicated materialization job. The
    // race bound is the same argument as `large`'s: the frame ends in
    // the distinct's shuffle, so the two union branches of round 1's
    // neighborhood frame read one shuffleId's output — concurrent
    // branches can at worst re-run the reduce-side projection, never
    // the caller's edge derivation. Callers therefore pass their pair
    // frame unmaterialized.
    var edges = pairs
      .select(col("id_a").cast("long").as("a"), col("id_b").cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("src"),
        least(col("a"), col("b")).as("dst"))
      .distinct()
      .localCheckpoint(eager = false)

    /** STRUCTURAL convergence probe: the round output is a fixpoint of
      * large∘small iff it is a disjoint union of stars rooted at
      * component minima, and THAT is locally checkable — (a) no vertex
      * appears as both a src and a dst, and (b) no src carries two
      * out-edges. (⇐: on such a star forest the root is below every
      * member, so large-star re-emits each (v, r) and small-star
      * re-emits the same — both identities, shown in the fixpoint-shape
      * note at the bottom. ⇒: a fixpoint violating (a) holds
      * (a→b),(b→c) and the note's contradiction kills it; a fixpoint
      * violating (b) holds (v→m1),(v→m2) with m1 < m2 and the next
      * small-star emits the NEW edge (m2→m1) — u = v's
      * closed-neighborhood min is m1 and m2 ≤ v — so it was no
      * fixpoint.) Comparing consecutive rounds' checksums instead could
      * only see a fixpoint by RE-DERIVING it, one extra full round; the
      * probe fires in the round that PRODUCES the star forest, is exact
      * (no hash-collision false convergence), and directly verifies the
      * no-dst-is-a-src property the root extraction below RELIES on.
      * The same aggregate sums the out-degrees, which is `df`'s edge
      * count: returned with the verdict, it sizes the final frame.
      */
    def isStarForest(df: DataFrame): (Boolean, Long) = {
      val probe = df.select(col("src").as("x"), lit(1L).as("es"), lit(0L).as("ed"))
        .union(df.select(col("dst").as("x"), lit(0L).as("es"), lit(1L).as("ed")))
        .groupBy(col("x"))
        // edge set is distinct, so the src-tag sum counts out-edges
        .agg(sum(col("es")).as("outdeg"), max(col("ed")).as("isDst"))
        .agg(count_if(col("outdeg") > 1L ||
          (col("outdeg") > 0L && col("isDst") === 1L)),
          coalesce(sum(col("outdeg")), lit(0L)))
        .head()
      (probe.getLong(0) == 0L, probe.getLong(1))
    }

    // No action over the INPUT edge set: real caller graphs (raw
    // near-dup / mutual-kNN pair frames) are never pre-contracted star
    // forests, so probing the input would be one wasted action per
    // call; an already-fixpoint input costs one (identity) round.
    var converged = false
    var rounds = 0
    while (!converged) {
      rounds += 1
      require(rounds <= 64, "star contraction failed to converge in 64 rounds")
      // ---- large-star ----
      // neighborhood of u (both directions), m = min(Γ(u) ∪ {u});
      // emit (v, m) for strictly larger neighbors v > u.
      // m comes from groupBy+min — a PARTIAL aggregate with map-side
      // combine — joined back on u, NOT from min().over(Window
      // .partitionBy(u)): WindowExec buffers a node's entire adjacency
      // in one task, a straggler/OOM hazard on exactly the mega-hub
      // graphs (boilerplate pages, degree 10^7+) this class exists to
      // handle. The join back streams per-row (sort-merge buffers only
      // the single matching min row per key), and AQE is free to
      // broadcast the node-sized min frame.
      val nbrs = edges.select(col("src").as("u"), col("dst").as("v"))
        .union(edges.select(col("dst").as("u"), col("src").as("v")))
      val mins = nbrs.groupBy(col("u"))
        .agg(min(least(col("v"), col("u"))).as("m"))
      // LAZY checkpoint: the round's ONE action — the star-forest probe
      // below — materializes this too, halving the per-round job count.
      // An eager checkpoint is the rule for frames whose COMPUTATION
      // races when branches of one job reach an unmaterialized cache;
      // here the race is bounded by construction: `large` is one RDD
      // object, so its shuffle map stages are deduplicated by
      // shuffleId in the DAG scheduler — concurrent branches can at
      // worst re-run the reduce-side projection over already-written
      // shuffle files, never the corpus-side work.
      //
      // INVARIANT (load-bearing, not style): `large` must stay
      // lazy-paired with the ONE probe action at the bottom of this
      // round. The shuffle-dedup argument above only bounds the race
      // WITHIN a single job — adding any action between here and
      // `isStarForest(small)` (a debug count, a convergence metric, an
      // eager checkpoint of a derived frame) splits the round into two
      // jobs that each reach this unmaterialized checkpoint and
      // silently reintroduces the concurrent-first-computation race an
      // eager checkpoint prevents.
      // If you need a mid-round action, flip this back to
      // localCheckpoint() (eager) first.
      val large = nbrs.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(eager = false)
      // ---- small-star ---- (same partial-agg shape; the (u, m) branch
      // reads the one-row-per-node min frame directly instead of the
      // per-neighbor-duplicated join output)
      val nbrs2 = large.select(col("src").as("u"), col("dst").as("v"))
        .union(large.select(col("dst").as("u"), col("src").as("v")))
      val mins2 = nbrs2.groupBy(col("u"))
        .agg(min(least(col("v"), col("u"))).as("m"))
      // LAZY checkpoint: the probe action below is the round's one
      // materialization pass — it computes `large`, then small,
      // writes both frames' checkpoint blocks, and aggregates the
      // convergence scalar in a single job.
      val small = nbrs2.join(mins2, "u")
        .filter(col("v") <= col("u"))
        .select(col("v").as("src"), col("m").as("dst"))
        .union(mins2.select(col("u").as("src"), col("m").as("dst")))
        .filter(col("src") =!= col("dst"))
        .distinct()
        .localCheckpoint(eager = false)
      // the round's ONE action — see the invariant note on `large`
      // above: do not add actions between `large` and this call
      val (starForest, nEdges) = isStarForest(small)
      converged = starForest
      // the converged frame carries its measured size, so the callers'
      // label joins plan a broadcast up front instead of shuffling the
      // labels first (a checkpoint's own estimate is the product of the
      // join inputs above it)
      edges = if (converged) Stored.measured(small, nEdges) else small
    }
    // Fixpoint shape (relied on, so proved here): converged
    // now means the structural probe verified the edge set IS a
    // disjoint union of stars rooted at component minima (and any
    // checksum-stable set is necessarily one). Sketch for the
    // stable-set direction: small-star output always has
    // src > dst (the emitted dst is a closed-neighborhood minimum), so
    // suppose the stable set held (a→b) AND (b→c) — b both pointed-at
    // and pointing. Large-star on b's neighborhood {a, c, …} re-links
    // a to min(Γ(b)∪{b}) ≤ c < b, so (a→b) leaves the set, and no
    // small-star node can re-emit b as a neighborhood minimum once a's
    // neighborhood contains that smaller node — the set changed,
    // contradiction. Hence at the detected fixpoint no dst is ever a
    // src: the dst side is EXACTLY the component minima, and the roots
    // are `edges.dst.distinct` directly, with no anti-join separating
    // roots from members. The spec pins equality with union-find on
    // real + generated graphs, planted-star cases included.
    val labeled = edges.select(col("src").as("v"), col("dst").as("lbl"))
    val roots = edges.select(col("dst").as("v")).distinct()
      .select(col("v"), col("v").as("lbl"))
    labeled.union(roots)
  }
}
