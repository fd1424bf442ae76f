package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed Lloyd's k-means over fixed-point-quantized vectors — the
  * codebook trainer q60's IVF doc promises ("at scale the codebook comes
  * from a sampled k-means job") and the coarse-quantizer step of
  * Jégou/Douze/Schmid's product quantization (TPAMI'11 §III).
  *
  * Determinism contract (what makes a DuckDB oracle — and a reproducible
  * 100 TB run — possible):
  *
  *  - coordinates are quantized once up front: `xq_i = floor(x_i·2^24)`
  *    as BIGINT. A float scaled by a power of two is exact, and floor is
  *    unambiguous, so both engines derive the identical integer vector.
  *  - the centroid UPDATE accumulates those integers
  *    ([[graft.functions.VecSumLong]]): long addition is associative, so
  *    the centroid sum is bit-identical under any partitioning — unlike
  *    a float mean, which silently varies with partition order. The mean
  *    `cast(sum as double)/cast(cnt as double)` is one IEEE division,
  *    identical everywhere.
  *  - the ASSIGNMENT distance is a fixed-order fold over the dims
  *    (`aggregate(zip_with(...))` ≡ DuckDB `list_reduce`), argmin with a
  *    total (dist ASC, cid ASC) order — ties cannot diverge.
  *
  * Scale shape (the reason this survives 100 TB): per iteration the
  * corpus is NEVER shuffled. Assignment folds each row against a
  * broadcast 1-row array of all k centroids (O(n·k·dim) flops, map-side
  * only); the update is a `groupBy(cid)` whose monoid partial-aggregate
  * reduces every partition to ≤k dim-long buffers before the exchange —
  * per-iteration shuffle is O(partitions·k·dim) bytes, CONSTANT in the
  * corpus. The driver never collects anything; iterations compose the
  * plan. Compare GraphFrames-style iteration which checkpoints per
  * round: here state is k·dim ≈ KBs, carried as a broadcast aggregate.
  */
object KMeans {

  /** 2^24 — float mantissa width; `x·QUANT` is exact for every float. */
  val Quant: Double = 16777216.0d

  /** Quantize an `array<float|double>` column to `array<bigint>`.
    *
    * MEASURED REJECTION: compiling this lambda into a quantize_fixed
    * kernel (the q105/q108 pattern) measured consistently SLOWER in
    * paired sf1 A/Bs, both orders — q117+q122 kernel 5.37/5.30 s vs
    * this lambda 5.01/5.01 s. Every caller stores the quantized frame
    * immediately, so the chain runs once per query (~1.3M floor ops at
    * sf1 — sub-millisecond interpreted) and the kernel only buys an
    * extra GenericArrayData→Unsafe copy on the store. The interpreted
    * form stays; revisit only if a caller ever stops storing this
    * projection. */
  def quantize(v: Column): Column =
    transform(v, x => floor(x.cast("double") * lit(Quant)))

  /** One Lloyd assignment: for each row of `corpus` (vec_id, xq), the
    * argmin centroid over `cents` (cid, mu) plus its squared distance.
    * `cents` is collapsed to a single sorted array-of-structs row, which
    * the planner broadcasts (an ungrouped aggregate is one row), so the
    * assignment is a pure map-side fold — no window, no groupBy, no
    * shuffle of the corpus. The fold itself is the
    * native [[graft.functions.VecDistKernels.l2argmin]] kernel (identical
    * semantics to the `aggregate(transform(...))` HOF chain it
    * replaces — VecDistKernels' scaladoc carries the bit-equality
    * argument; KMeansSpec pins parity): the interpreted chain cost
    * ~0.4 s per corpus×k×dim scan at sf0.1, ×iters rounds.
    */
  def assign(corpus: DataFrame, cents: DataFrame): DataFrame = {
    val packed = cents.agg(
      sort_array(collect_list(struct(col("cid"), col("mu")))).as("cs"))
    corpus
      .join(packed)
      .withColumn("best",
        graft.functions.GraftFunctions.l2argmin(col("xq"), col("cs")))
      .select(col("vec_id"), col("best.c").as("cid"),
        col("best.d").as("dist"), col("xq"))
  }

  /** One centroid update from an assignment frame (cid, xq): exact
    * integer elementwise sums per cluster (map-side monoid), mean as one
    * double division per dim. Empty clusters keep their previous mean —
    * the standard Lloyd guard, and the reason the state is a LEFT join
    * against the prior centroid table rather than a bare groupBy.
    */
  def update(assigned: DataFrame, prev: DataFrame, dim: Int): DataFrame = {
    val vsum = udaf(new graft.functions.VecSumLong(dim))
    val sums = assigned.groupBy(col("cid"))
      .agg(vsum(col("xq")).as("s"), count(lit(1)).as("cnt"))
    prev.select(col("cid"), col("mu").as("pmu"))
      .join(sums, Seq("cid"), "left")
      .select(col("cid"),
        when(col("cnt").isNull, col("pmu"))
          .otherwise(expr("transform(s, x -> cast(x as double) / cast(cnt as double))"))
          .as("mu"))
  }

  /** `iters` full Lloyd rounds from a deterministic init (the k corpus
    * vectors with vec_id < k, mean = the point itself). Returns the LAST
    * assignment (vec_id, cid, dist, xq — distances measured against the
    * round-(iters−1) centroids, the ones that produced it) and the final
    * updated centroid table (cid, mu).
    *
    * The k-row centroid state is stored ([[Stored]]) after every update:
    * without it, iteration t's assign INLINES iterations 1..t−1's whole
    * subplans into every consumer (plan size grows geometrically, and a
    * consumer that uses the centroids twice pays the corpus scans
    * twice — q122 measured 7.8 s → 1.9 s at sf0.1 from this one cut).
    * The checkpoint materializes k·dim doubles on executors — bounded
    * state, nothing crosses the driver.
    */
  def run(corpus: DataFrame, k: Int, dim: Int, iters: Int): (DataFrame, DataFrame) = {
    require(iters >= 1)
    val init = corpus.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cid"),
        expr("transform(xq, q -> cast(q as double))").as("mu"))
    var cents = init
    var assigned: DataFrame = null
    for (_ <- 1 to iters) {
      assigned = assign(corpus, cents)
      cents = Stored.checkpoint(update(assigned, cents, dim)).df
    }
    (assigned, cents)
  }
}
