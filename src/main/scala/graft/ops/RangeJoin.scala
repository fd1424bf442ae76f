package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Bin-to-equi-key range joins — the scale path q54's scaladoc names
  * but (with its 5-row band table) never needs.
  *
  * A non-equi range predicate gives Catalyst no join key, so the only
  * built-in plans are broadcast-nested-loop (fine for a tiny side,
  * O(n*m) otherwise) or cartesian. The standard fix (what Databricks'
  * RANGE_JOIN hint does under the hood) is to quantize the value space
  * into fixed-width bins: each interval registers under every bin it
  * touches (`sequence(floor(lo/w), floor(hi/w))` — an explode of
  * ceil(len/w)+1 rows, tiny for intervals comparable to the bin
  * width), each point registers under exactly one bin, and the join
  * becomes a plain hash equi-join on the bin id with the exact range
  * predicate re-applied as a post-filter. Semantics are EXACTLY the
  * naive join's (the bin key is a superset candidate generator);
  * the plan is shuffle-partitionable on the bin key, so it survives
  * fact sides of any size.
  *
  * Bin width trades replication against candidate precision: w ~ the
  * median interval length keeps both the explode factor and the
  * per-bin fan-in at O(1) for non-pathological interval distributions;
  * a bin containing many long intervals is the skew point (salt the
  * bin key or split long intervals, same as any hot hash key).
  */
object RangeJoin {

  /** Point-in-interval join: rows of `fact` whose `valueCol` lies in
    * [loCol, hiCol) of `intervals`. Column names must not collide
    * across the two frames (rename before calling). Exact: bin
    * membership is a candidate filter only.
    */
  def binnedPointJoin(
      fact: DataFrame,
      valueCol: String,
      intervals: DataFrame,
      loCol: String,
      hiCol: String,
      w: Double): DataFrame = {
    val fb = fact.withColumn("__bin", floor(col(valueCol) / w).cast("long"))
    val ib = intervals.withColumn("__bin",
      explode(sequence(floor(col(loCol) / w).cast("long"),
        floor(col(hiCol) / w).cast("long"))))
    fb.join(ib, "__bin")
      .filter(col(valueCol) >= col(loCol) && col(valueCol) < col(hiCol))
      .drop("__bin")
  }

  /** Interval-overlap join: pairs (a, b) with a.lo < b.hi AND
    * b.lo < a.hi (half-open overlap). Both sides explode to their bin
    * ranges; a pair sharing k bins surfaces k times, so the caller
    * gets each pair ONCE via dropDuplicates on the provided keys.
    */
  def binnedOverlapJoin(
      a: DataFrame, aLo: String, aHi: String,
      b: DataFrame, bLo: String, bHi: String,
      keys: Seq[String],
      w: Double): DataFrame = {
    def explodeBins(df: DataFrame, lo: String, hi: String): DataFrame =
      df.withColumn("__bin",
        explode(sequence(floor(col(lo) / w).cast("long"),
          floor(col(hi) / w).cast("long"))))
    explodeBins(a, aLo, aHi).join(explodeBins(b, bLo, bHi), "__bin")
      .filter(col(aLo) < col(bHi) && col(bLo) < col(aHi))
      .drop("__bin")
      .dropDuplicates(keys)
  }
}
