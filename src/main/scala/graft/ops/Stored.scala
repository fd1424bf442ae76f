package graft.ops

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.SparkContext
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
  * the engine's one way to store a frame eagerly (a spec scans
  * `src/main` for any other); its blocks live until the caller releases
  * the context's persistent RDDs.
  */
final case class Stored(df: DataFrame, metrics: Row) {
  def rows: Long = metrics.getLong(0)
}

object Stored {
  private val observations = new AtomicLong

  /** Stores `df` and observes `count(*)` plus `extra`. The storing job,
    * and every stage it creates, is named `localCheckpoint at <file>:<line>`
    * of the line that called this, as a `localCheckpoint` there would be. */
  def checkpoint(df: DataFrame, extra: Column*): Stored = {
    val name = s"stored_${observations.incrementAndGet()}"
    val observed = df.observe(name, count(lit(1)).as("rows"), extra: _*)
    val stored = atCaller(df.sparkSession.sparkContext)(observed.localCheckpoint())
    val metrics = observed.queryExecution.observedMetrics(name)
    // after the job AQE's plan is final: its partitioning is where the
    // stored rows are
    val ran = observed.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    Stored(measured(stored, metrics.getLong(0), ran.outputPartitioning), metrics)
  }

  /** Runs `body` with the context's call site set to the first stack
    * frame outside this object, then restores the previous one. */
  private def atCaller[T](sc: SparkContext)(body: => T): T = {
    val caller = Thread.currentThread.getStackTrace.iterator.drop(1)
      .find(!_.getClassName.startsWith(getClass.getName)).get
    val site = s"localCheckpoint at ${caller.getFileName}:${caller.getLineNumber}"
    val keys = Seq("callSite.short", "callSite.long")
    val saved = keys.map(sc.getLocalProperty)
    keys.foreach(sc.setLocalProperty(_, site))
    try body finally keys.zip(saved).foreach { case (k, v) => sc.setLocalProperty(k, v) }
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
