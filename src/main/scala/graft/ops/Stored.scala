package graft.ops

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, Partitioning,
  PartitioningCollection, UnknownPartitioning}
import org.apache.spark.sql.classic
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions.{count, lit}

/** A frame stored by one eager `localCheckpoint`, with the metrics that
  * checkpoint's own job observed: `metrics(0)` is the row count, then the
  * `extra` aggregates of [[Stored.checkpoint]] in order. They are read
  * from the observed frame's QueryExecution as soon as the checkpoint
  * returns: no second action, and no listener-bus wait as with an
  * `Observation`.
  *
  * `df` plans from a LogicalRDD, so plans built on it print none of the
  * lineage above it, and it carries what the job measured: the observed
  * row count as its statistics, and the final plan's hash partitioning,
  * so a consumer joining on that key reads it without a shuffle. It is
  * the engine's one way to store a frame; its blocks live until the
  * caller releases the context's persistent RDDs.
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
    val metrics = observed.queryExecution.observedMetrics(name)
    // after the job AQE's plan is final: its partitioning is where the
    // stored rows are
    val ran = observed.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    Stored(measured(stored, metrics.getLong(0), ran.outputPartitioning), metrics)
  }

  /** `df`, whose plan must be a checkpoint's LogicalRDD, re-planned with
    * `rows` as its measured row count and `partitioning` as its output
    * partitioning. A partitioning is kept only when it is a
    * `HashPartitioning` over output columns whose partition count equals
    * the RDD's: a coalesced or range partitioning, or any other, does
    * not say which partition holds a key, so the frame then declares
    * none. */
  private[graft] def measured(df: DataFrame, rows: Long,
      partitioning: Partitioning = UnknownPartitioning(0)): DataFrame =
    df.queryExecution.logical match {
      case r: LogicalRDD =>
        def leaves(p: Partitioning): Seq[Partitioning] = p match {
          case c: PartitioningCollection => c.partitionings.flatMap(leaves)
          case leaf => Seq(leaf)
        }
        val kept = leaves(partitioning).collectFirst {
          case h: HashPartitioning if h.numPartitions == r.rdd.getNumPartitions &&
              h.references.subsetOf(r.outputSet) => h
        }.getOrElse(UnknownPartitioning(0))
        val stats = Statistics(EstimationUtils.getOutputSize(r.output, rows), Some(rows))
        GraftColumnBridge.ofRows(df.sparkSession, r.copy(outputPartitioning = kept)(
          df.sparkSession.asInstanceOf[classic.SparkSession], Some(stats), Some(r.constraints)))
    }

  /** Releases every stored block of `spark`'s context, waiting until
    * they are gone: between independent runs, so none inherits another's
    * stored state (`localCheckpoint` blocks otherwise stay until the
    * driver GC happens to run the ContextCleaner). */
  def releaseAll(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
}
