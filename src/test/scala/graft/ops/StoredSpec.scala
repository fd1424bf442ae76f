package graft.ops

import graft.SparkSpec
import graft.{Tables => T}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.physical.{CoalescedBoundary,
  CoalescedHashPartitioning, HashPartitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{LogicalRDD, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.functions.{col, count, lit, max, sum, when}

/** What a [[Stored]] frame keeps from the job that stored it: the final
  * plan's hash partitioning, only where it says which partition holds a
  * key, and the observed row count as the optimizer's statistics. */
class StoredSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  /** Shuffle exchanges in `df`'s AQE-final plan, after running it. */
  private def shuffles(df: DataFrame): Int = {
    def count(p: SparkPlan): Int = p match {
      case a: AdaptiveSparkPlanExec => count(a.executedPlan)
      case s: QueryStageExec => count(s.plan)
      case e: ShuffleExchangeLike => 1 + e.children.map(count).sum
      case other => other.children.map(count).sum
    }
    df.collect()
    count(df.queryExecution.executedPlan)
  }

  private def declared(df: DataFrame) = df.queryExecution.logical match {
    case r: LogicalRDD => r.outputPartitioning
    case other => fail(s"a stored frame plans from a LogicalRDD, got ${other.nodeName}")
  }

  test("a stored doc_id-partitioned frame joins a doc_id aggregate with one shuffle") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val docs = T.documentsSpread(spark, sf).select(col("doc_id"), col("source"))
      val s = Stored.checkpoint(docs)
      val perDoc = T.documents(spark, sf).groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
      val joined = s.df.join(perDoc, "doc_id")
      // the aggregate's exchange only: the stored side keeps its
      // hashpartitioning(doc_id) and is not shuffled again
      assert(shuffles(joined) === 1, joined.queryExecution.executedPlan.toString)
      assert(joined.orderBy("doc_id").collect().toSeq ===
        docs.join(perDoc, "doc_id").orderBy("doc_id").collect().toSeq)
    }
  }

  test("a coalesced or range-partitioned frame is stored with no declared partitioning") {
    val docs = T.documents(spark, sf).select(col("doc_id"), col("source"))
    // a range exchange's output says nothing of where a hash puts a key
    val ranged = Stored.checkpoint(docs.repartitionByRange(4, col("doc_id")))
    assert(declared(ranged.df) === UnknownPartitioning(0))
    assert(ranged.rows === docs.count())
    // over a 1-partition checkpoint: AQE's coalesced read of a 4-way hash
    // shuffle (one partition, but the keys of four hash buckets), and a
    // hash partitioning whose count is not the RDD's, are both dropped;
    // a 1-way hash partitioning is kept
    val one = docs.coalesce(1).localCheckpoint()
    val id = one.queryExecution.logical.output.head
    val hash4 = HashPartitioning(Seq(id), 4)
    Seq(CoalescedHashPartitioning(hash4, Seq(CoalescedBoundary(0, 4))), hash4).foreach { p =>
      assert(declared(Stored.measured(one, ranged.rows, p)) === UnknownPartitioning(0), p)
    }
    val hash1 = HashPartitioning(Seq(id), 1)
    assert(declared(Stored.measured(one, ranged.rows, hash1)) === hash1)
  }

  test("the optimizer's row count of a stored frame is the observed row count") {
    val s = Stored.checkpoint(T.documents(spark, sf).filter(col("doc_id") % 3 === 0))
    assert(s.rows > 0)
    assert(s.df.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(s.rows)))
    assert(s.df.count() === s.rows)
  }

  test("a frame over a LocalRelation is stored and reports its rows") {
    import spark.implicits._
    // Crawl's seed shape: a driver-side Seq, no scan below it
    val seed = Seq("a", "b", "c").toDF("url").select(col("url"), lit(0).as("depth"))
    val s = Stored.checkpoint(seed)
    assert(s.rows === 3L)
    assert(s.df.queryExecution.logical.isInstanceOf[LogicalRDD])
    assert(s.df.orderBy("url").collect().toSeq === seed.orderBy("url").collect().toSeq)
  }

  test("unnamed stores in one session each read their own metrics") {
    val docs = T.documents(spark, sf).select(col("doc_id"))
    val a = Stored.checkpoint(docs.filter(col("doc_id") % 2 === 0), max(col("doc_id")))
    val b = Stored.checkpoint(docs.filter(col("doc_id") % 2 === 1), max(col("doc_id")))
    // a store of two stored frames' union observes the union's rows
    val ab = Stored.checkpoint(a.df.union(b.df), max(col("doc_id")))
    val Seq(evens, odds, all) = Seq(a, b, ab).map(s => (s.rows, s.metrics.getLong(1)))
    val r = docs.agg(
      sum(when(col("doc_id") % 2 === 0, 1L).otherwise(0L)), max(col("doc_id")),
      count(lit(1))).head()
    assert(evens._1 === r.getLong(0))
    assert(odds._1 === r.getLong(2) - r.getLong(0))
    assert(all === ((r.getLong(2), r.getLong(1))))
    assert(evens._2 % 2 === 0 && odds._2 % 2 === 1, (evens, odds))
    assert(math.max(evens._2, odds._2) === r.getLong(1))
    assert(Seq(a, b, ab).map(_.df.count()) === Seq(evens._1, odds._1, all._1))
  }

  test("a stored job and its stages are named after the line that stored the frame") {
    val stageNames = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        stageNames.add(e.stageInfo.name)
    }
    val perSource = T.documentsSpread(spark, sf).groupBy(col("source")).count()
    val line = new Throwable().getStackTrace.head.getLineNumber + 3
    spark.sparkContext.addSparkListener(listener)
    try {
      Stored.checkpoint(perSource)
      GraftListenerBridge.drainListenerBus(spark.sparkContext)
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val names = stageNames.asScala.toSeq
    assert(names.nonEmpty)
    assert(names.forall(_ == s"localCheckpoint at StoredSpec.scala:$line"), names)
    // the caller's own call site is back once the store returns
    assert(spark.sparkContext.getLocalProperty("callSite.short") === null)
  }
}
