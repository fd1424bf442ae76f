package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed per-block ranking: `row_number() OVER (PARTITION BY
  * block ORDER BY key...)` semantics WITHOUT the per-block
  * single-task sort (q44/q128: a 10M-doc hot block is a ~1.5 GB sort
  * owned by ONE window task; linear and spillable, but parallelism
  * collapses exactly where the data is hottest).
  *
  * Two physical forms, picked by the caller's `knownRows` bound: the
  * plain window when the bound is at most [[windowFormMaxRows]], the
  * range split otherwise or when no bound is known. Categorize passes
  * the bounds its parse checkpoint observes, so a small crawl mints its
  * surrogate ids on the window without a range-sample or checkpoint job.
  *
  * A range-split numbering of per-block sequences (one constant
  * block gives one global sequence, as Categorize's surrogate ids and
  * q143's ranks use it), and it is a PHYSICAL rewrite only: the
  * produced rank is bit-identical to the global window form
  * (BlockRanksSpec pins equality, planted mega-block included), so q44/q128's DuckDB oracles — which mirror the ranked
  * sub-blocking rank-for-rank — need no change at all. That is the
  * decisive advantage over the salted-stripe alternative the q128
  * scaladoc used to gesture at: hash stripes change WHICH pairs are
  * candidates (cross-stripe neighbors never meet — a recall cut), while
  * a range split preserves the exact total order and merely spreads
  * the sort.
  *
  * Decomposition (three corpus-sized-frame-free steps after the one
  * range exchange):
  *
  *   1. `repartitionByRange(p, block, key...)` splits the combined
  *      (block, key) space into p ordered ranges — a hot block SPANS
  *      as many ranges as its share of the corpus, so the sort behind
  *      the ranking runs p-way regardless of block skew. The full
  *      tuple (block, key..., tiebreak-id) is unique by the callers'
  *      contract, so every row lands in exactly one range and
  *      cross-range order is total.
  *   2. per-(range, block) row counts — a frame of at most
  *      p + |blocks| rows (a block contributes to every range it
  *      spans; a range holds at most one partial block at each end) —
  *      with an exclusive prefix sum over ranges WITHIN each block: a
  *      window over the tiny count frame, never the corpus.
  *   3. `row_number()` within (range, block) ordered by the same key,
  *      plus the per-(range, block) offset joined back from the count
  *      frame = the exact per-block rank.
  *
  * The ranged frame is stored ([[Stored]]): both q44/q128
  * join sides read the ranked frame, and two planner instantiations
  * of the range exchange would re-sample boundaries independently —
  * per-branch disagreement on which range a row fell in silently
  * corrupts ranks. One cheap
  * materialization (the callers feed fingerprint-sized frames,
  * ~150 B/doc) pins the boundaries physically; it also stops the
  * range sampler from re-executing an expensive child twice.
  *
  * Caller contract (both enforced by construction at the call sites):
  * `orderCols` must end in a unique tie-break column (q44/q128 pass
  * the doc/vec id) — ties would make row_number nondeterministic in
  * EITHER form; and `df` must not already contain the reserved temp
  * columns.
  */
object BlockRanks {

  /** Input-size threshold for the plain-window fast path: at or below
    * this many TOTAL rows the single-task per-block window runs
    * instead of the range split. 32·1024 rows of ~150 B fingerprint is
    * ~5 MB — a sub-millisecond sort for one task, well below the fixed
    * cost of the split's three extra stages (range-sample job,
    * checkpoint, offset join; measured +0.8 s per query at sf0.1 on
    * 2k-5k-row frames), while above it the split hands every one of
    * ~32 tasks at least a [[graft.queries.PipelineOps.subBlockRanks]]-
    * sized range. The two paths produce IDENTICAL ranks
    * (BlockRanksSpec pins it), so the branch is a physical choice
    * only; above the threshold the range split keeps the total order,
    * where salted rank stripes would cut recall. */
  val windowFormMaxRows: Long = 32L * 1024L

  /** Adds `rnCol` = the 1-based rank of each row within its
    * `blockCol` group under `orderCols`, as LongType. Plan-equivalent
    * to `row_number().over(Window.partitionBy(blockCol).orderBy
    * (orderCols))` with p-way parallelism in every stage.
    *
    * `knownRows`: the input row count, taken by the caller for this
    * call — or any UPPER BOUND on it (the value only gates the
    * fast-path branch, so a bound that fits under [[windowFormMaxRows]]
    * proves the true count does too; q143 passes the corpus doc count
    * for its sub-corpus rank inputs, Categorize the parsed row count and
    * the summed category-array sizes its parse checkpoint observes). A
    * value in [0, windowFormMaxRows] selects the plain-window form.
    * Pass -1 (default) when unknown — the scale-safe split runs
    * unconditionally.
    */
  def withBlockRank(df: DataFrame, blockCol: String, orderCols: Seq[Column],
      rnCol: String, knownRows: Long = -1L): DataFrame = {
    val reserved = Seq("__pid", "__cnt", "__off")
    require(!df.columns.exists(reserved.contains),
      s"input must not contain reserved temp columns ${reserved.mkString(", ")}")
    require(orderCols.nonEmpty, "orderCols must be non-empty")
    if (knownRows >= 0 && knownRows <= windowFormMaxRows)
      return df.withColumn(rnCol, row_number().over(
        Window.partitionBy(col(blockCol)).orderBy(orderCols: _*)).cast("long"))
    val p = df.sparkSession.conf.get("spark.sql.shuffle.partitions", "200").toInt

    // stored: pins the sampled boundaries for multi-branch readers
    val ranged = Stored.checkpoint(df
      .repartitionByRange(p, (col(blockCol) +: orderCols): _*)
      .withColumn("__pid", spark_partition_id())).df

    // exclusive prefix sum of range populations within each block —
    // the offset every range adds to its local row numbers
    val wOff = Window.partitionBy(col(blockCol)).orderBy(col("__pid"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = ranged.groupBy(col("__pid"), col(blockCol))
      .agg(count(lit(1)).as("__cnt"))
      .withColumn("__off", coalesce(sum(col("__cnt")).over(wOff), lit(0L)))
      .select(col("__pid"), col(blockCol), col("__off"))

    val wIn = Window.partitionBy(col("__pid"), col(blockCol))
      .orderBy(orderCols: _*)
    ranged.join(offsets, Seq("__pid", blockCol))
      .withColumn(rnCol, row_number().over(wIn).cast("long") + col("__off"))
      .drop("__pid", "__off")
  }
}
