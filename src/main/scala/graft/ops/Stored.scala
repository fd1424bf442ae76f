package graft.ops

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{count, lit}

/** A frame stored by one eager `localCheckpoint`, with the metrics that
  * checkpoint's own job observed: `metrics(0)` is the row count, then the
  * `extra` aggregates of [[Stored.checkpoint]] in order. They are read
  * from the observed frame's QueryExecution as soon as the checkpoint
  * returns: no second action, and no listener-bus wait as with an
  * `Observation`.
  *
  * `df` plans from a LogicalRDD, so plans built on it print none of the
  * lineage above it. Its statistics are the optimizer's estimate, not a
  * measured size, and under AQE it keeps no output partitioning: where a
  * consumer joins on the key a frame is hash-partitioned by, `persist`
  * saves that shuffle.
  */
final case class Stored(df: DataFrame, metrics: Row) {
  def rows: Long = metrics.getLong(0)
}

object Stored {
  /** Stores `df` and observes `count(*)` plus `extra` under `name`,
    * which must be unique among the observations in `df`'s plan. */
  def checkpoint(df: DataFrame, name: String, extra: Column*): Stored = {
    val observed = df.observe(name, count(lit(1)).as("rows"), extra: _*)
    val stored = observed.localCheckpoint()
    Stored(stored, observed.queryExecution.observedMetrics(name))
  }
}
