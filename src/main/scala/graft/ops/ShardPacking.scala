package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Two-pass, deterministic token-budget shard assignment — the scale
  * form of the running-sum pack (reference behavior: downloader/
  * converter write one artifact per page in crawl order; packing is
  * the corpus-scale analogue of that ordered materialization).
  *
  * Semantics: within each `source`, documents are taken in `order`
  * order and a document goes to the shard where its FIRST token lands:
  * shard_id = (prefix_sum − n) div budget. Pure integer arithmetic —
  * the assignment is a function of the data alone, so it is
  * bit-reproducible across runs, partitioning, and cluster size
  * (same contract as the hash-membership splits in q67/q93).
  *
  * Why two passes: the one-window form
  * `Window.partitionBy(source).orderBy(order).rowsBetween(unbounded,
  * current)` funnels each source's ENTIRE corpus through one window
  * task — with a handful of big sources at 100 TB that single task is
  * the job. Instead we exploit that a prefix sum decomposes over any
  * ordered partition of the key space:
  *
  *   pass 1  group by (source, block) where block = order div
  *           blockSpan — per-block token subtotals, a plain hash agg
  *           (map-side combined, parallel over the corpus);
  *   offsets an exclusive running sum of the subtotals per source —
  *           a window over BLOCK AGGREGATES, i.e. corpus_rows /
  *           (blockSpan × density) rows, not corpus rows;
  *   pass 2  running sum within (source, block) ordered by `order`,
  *           seeded by the block's offset — each window task handles
  *           at most one block span, bounded by blockSpan regardless
  *           of how big the source is.
  *
  * offset(source, b) + run(source, b, row) is exactly the global
  * per-source prefix sum, so shard ids are bit-identical to the
  * one-window INTEGER-div form (ShardPackingSpec pins equality at
  * several blockSpans, including blockSpan=1 and the degenerate
  * one-block case). Note the arithmetic here is pure `div` — a
  * floating-point `/`-then-cast variant agrees only below ~2^53
  * cumulative tokens, which is why q78 and Curate stage 6 route
  * through this object rather than keeping their own `/` windows.
  *
  * The offsets table has #distinct (source, block) rows, one per
  * blockSpan of key space — at 100 TB pick blockSpan so this stays in
  * the 10⁵–10⁷ row range (e.g. 10⁶ ids per block). The join carries no
  * hint: the planner broadcasts whichever side measures smaller, or
  * joins as a shuffle join on (source, block), same result.
  *
  * `order` must be numeric and unique per row within a source (doc_id
  * here); `n` is the per-row token count. Null contract: `source`,
  * `order` and `n` must be non-null — a null source/order key would
  * silently vanish at the inner offsets join (null keys never match)
  * and a null `n` would poison the running sum, so both are rejected
  * up front with an explicit plan-level guard (`assert_true`), which
  * fails the job instead of losing rows.
  */
object ShardPacking {

  /** EXCLUSIVE running sum of `n` over `order` within `source`, via the
    * two-pass decomposition above — the primitive under both shard
    * assignment and q118's systematic PPS sampling. Adds `outCol` =
    * Σ n over all rows strictly before the current one (0 for the
    * first). Same non-null contract and blockSpan trade as
    * [[assignShards]].
    */
  def withPrefixSum(
      df: DataFrame,
      source: String,
      order: String,
      n: String,
      outCol: String,
      blockSpan: Long = 1L << 20): DataFrame = {
    require(blockSpan > 0, "blockSpan must be positive")
    val reserved = Seq("__blk", "__off", "__run")
    require(!df.columns.exists(reserved.contains),
      s"input must not contain reserved temp columns ${reserved.mkString(", ")}")
    // Fail fast on contract violations instead of silently dropping rows
    // at the offsets join. The guard is woven into the `source` join key
    // itself (not a standalone column): Catalyst pushes the inner join's
    // isnotnull(source) filter BELOW any guard column, so a detached
    // assert would be pruned away with the row it was meant to catch —
    // wrapping the key means even that pushed-down null filter must
    // evaluate the assert. Codegen'd no-op on valid data.
    val guarded = when(
      assert_true(
        col(source).isNotNull && col(order).isNotNull && col(n).isNotNull,
        lit(s"ShardPacking: null $source/$order/$n violates the non-null contract"))
        .isNull,
      col(source))
    val base = df
      .withColumn(source, guarded)
      .withColumn("__blk", expr(s"`$order` div ${blockSpan}L").cast("bigint"))

    // pass 1: per-(source, block) subtotals, then the exclusive prefix
    // sum of SUBTOTALS per source. The window here runs over block
    // aggregates only — tiny — so the single-task-per-source shape is
    // applied to a frame that is blockSpan× smaller than the corpus.
    val wOff = Window.partitionBy(col(source)).orderBy(col("__blk"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = base.groupBy(col(source), col("__blk"))
      .agg(sum(col(n).cast("long")).as("__blk_tok"))
      .withColumn("__off", coalesce(sum(col("__blk_tok")).over(wOff), lit(0L)))
      .select(col(source), col("__blk"), col("__off"))

    // pass 2: bounded running sum inside each block, seeded by the
    // block offset. Parallelism = #blocks, not #sources.
    val wIn = Window.partitionBy(col(source), col("__blk")).orderBy(col(order))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.join(offsets, Seq(source, "__blk"))
      .withColumn("__run", sum(col(n).cast("long")).over(wIn))
      .withColumn(outCol,
        (col("__off") + col("__run") - col(n).cast("bigint")).cast("bigint"))
      .drop("__blk", "__off", "__run")
  }

  def assignShards(
      df: DataFrame,
      source: String,
      order: String,
      n: String,
      budget: Long,
      blockSpan: Long = 1L << 20,
      shardCol: String = "shard_id"): DataFrame = {
    require(budget > 0, "budget must be positive")
    require(!df.columns.contains("__pre"),
      "input must not contain reserved temp column __pre")
    withPrefixSum(df, source, order, n, "__pre", blockSpan)
      .withColumn(shardCol, expr(s"__pre div ${budget}L").cast("bigint"))
      .drop("__pre")
  }
}
