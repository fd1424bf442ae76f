package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{LambdaFunction, ScalaUDF}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.SortAggregateExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.window.WindowExec
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's span recorder: workload → call → Spark job → stage,
  * each span with the id of its parent, plus one `plan` record per
  * executed query (planning phases and executed-plan node counts).
  *
  * Every span carries the workload and the name of its call (the query,
  * DAG step or pipeline run) as `query`.
  *
  * Everything is kept in memory and written as JSON lines at exit. Job
  * spans find their call through the `perfbench.call` local property the
  * benchmark sets around each call; plan records, which carry no
  * properties, are attributed by their end time to the call open then.
  */
final class Tracer(spark: SparkSession, workload: String) {
  private val sc = spark.sparkContext
  private val lock = new Object
  private val records = mutable.ArrayBuffer.empty[Map[String, Any]]
  private var nextId = 1L
  /** (call id, start ms, end ms) of every call, for plan attribution. */
  private val callWindows = mutable.ArrayBuffer.empty[(Long, Double, Double)]
  private val callName = mutable.Map.empty[Long, String]
  private val jobParent = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val stageAcc = mutable.Map.empty[Int, mutable.Map[String, Double]]
  private val jobStart = mutable.Map.empty[Int, Double]
  /** Nanoseconds spent inside this tracer's callbacks, under `lock`. */
  @volatile var callbackNs = 0L

  val workloadId: Long = newId()
  private val t0 = System.currentTimeMillis().toDouble

  def newId(): Long = lock.synchronized { val i = nextId; nextId += 1; i }

  private def timed(body: => Unit): Unit = lock.synchronized {
    val s = System.nanoTime()
    body
    callbackNs += System.nanoTime() - s
  }

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = timed {
      val call = Option(e.properties).flatMap(p => Option(p.getProperty("perfbench.call")))
        .map(_.toLong).getOrElse(callAt(e.time.toDouble))
      jobParent(e.jobId) = call
      jobStart(e.jobId) = e.time.toDouble
      e.stageIds.foreach(s => stageJob(s) = e.jobId)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = timed {
      val parent = jobParent.getOrElse(e.jobId, workloadId)
      records += Map("id" -> (1000000000L + e.jobId), "parent" -> parent, "kind" -> "job",
        "name" -> s"job ${e.jobId}", "start" -> jobStart.getOrElse(e.jobId, e.time.toDouble),
        "end" -> e.time.toDouble, "workload" -> workload, "query" -> callName.get(parent),
        "ok" -> (e.jobResult == JobSucceeded))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
      val a = stageAcc.getOrElseUpdate(e.stageId, mutable.Map.empty[String, Double].withDefaultValue(0.0))
      a("tasks") += 1
      val info = e.taskInfo
      val m = e.taskMetrics
      if (info != null) a("duration_ms") += info.duration
      if (m != null) {
        a("run_ms") += m.executorRunTime
        a("cpu_ns") += m.executorCpuTime
        a("deserialize_ms") += m.executorDeserializeTime
        a("result_ser_ms") += m.resultSerializationTime
        a("gc_ms") += m.jvmGCTime
        a("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten
        a("shuffle_read_bytes") += m.shuffleReadMetrics.totalBytesRead
        a("spill_bytes") += m.diskBytesSpilled
        a("input_bytes") += m.inputMetrics.bytesRead
        a("output_bytes") += m.outputMetrics.bytesWritten
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = timed {
      val si = e.stageInfo
      val job = stageJob.getOrElse(si.stageId, -1)
      val acc = stageAcc.remove(si.stageId).map(_.toMap).getOrElse(Map.empty)
      val call = jobParent.getOrElse(job, workloadId)
      records += Map("id" -> (2000000000L + si.stageId), "parent" -> (1000000000L + job),
        "kind" -> "stage", "name" -> s"stage ${si.stageId} ${si.name.take(60)}",
        "start" -> si.submissionTime.getOrElse(0L).toDouble,
        "end" -> si.completionTime.getOrElse(0L).toDouble, "workload" -> workload,
        "query" -> callName.get(call), "metrics" -> acc)
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = timed {
      val summaries = qe.tracker.phases
      val phases = summaries.map { case (k, v) => k -> v.durationMs.toDouble }
      // the listener runs late, on the bus thread: attribute by when
      // planning ended, which lies inside the call that ran the query
      val planned = if (summaries.isEmpty) System.currentTimeMillis().toDouble
        else summaries.values.map(_.endTimeMs).max.toDouble
      val call = callAt(planned)
      records += Map("id" -> newIdUnlocked(), "parent" -> call, "kind" -> "plan",
        "name" -> funcName, "start" -> planned, "end" -> (planned + durationNs / 1e6),
        "workload" -> workload, "query" -> callName.get(call), "phases" -> phases,
        "counts" -> planCounts(qe.executedPlan))
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private def newIdUnlocked(): Long = { val i = nextId; nextId += 1; i }

  private def callAt(t: Double): Long =
    callWindows.reverseIterator.find { case (_, s, e) => s <= t && t <= e + 5 }
      .map(_._1).getOrElse(workloadId)

  def attach(): Unit = {
    sc.addSparkListener(listener)
    spark.listenerManager.register(qeListener)
  }

  def detach(): Unit = {
    drain()
    sc.removeSparkListener(listener)
    spark.listenerManager.unregister(qeListener)
  }

  def drain(): Unit = org.apache.spark.GraftListenerBridge.drainListenerBus(sc)

  /** Open a call window before the call runs, so that plan records
    * are attributed to it. */
  def open(id: Long, name: String, start: Double): Unit = lock.synchronized {
    callWindows += ((id, start, Double.MaxValue))
    callName(id) = name
  }

  /** Close the call opened as `id`; `fields` carries its timings and samples. */
  def call(id: Long, name: String, start: Double, end: Double, fields: Map[String, Any]): Unit =
    lock.synchronized {
      val i = callWindows.indexWhere(_._1 == id)
      if (i >= 0) callWindows(i) = (id, start, end) else callWindows += ((id, start, end))
      records += Map("id" -> id, "parent" -> workloadId, "kind" -> "call", "name" -> name,
        "start" -> start, "end" -> end, "workload" -> workload, "query" -> name) ++ fields
    }

  def write(path: String): Unit = {
    drain()
    val end = System.currentTimeMillis().toDouble
    val all = lock.synchronized {
      Map[String, Any]("id" -> workloadId, "parent" -> 0L, "kind" -> "workload",
        "name" -> workload, "start" -> t0, "end" -> end, "workload" -> workload) +: records.toSeq
    }
    val w = new java.io.PrintWriter(path, "UTF-8")
    try all.foreach(r => w.println(Main.json.writeValueAsString(r))) finally w.close()
  }

  /** Executed-plan node counts, through AQE query stages and subqueries;
    * a reused exchange is not counted again. */
  def planCounts(root: SparkPlan): Map[String, Long] = {
    val c = mutable.Map.empty[String, Long].withDefaultValue(0L)
    def walk(p: SparkPlan): Unit = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case q: QueryStageExec => walk(q.plan)
      case _: ReusedExchangeExec => ()
      case _ =>
        p match {
          case _: ShuffleExchangeLike => c("exchanges") += 1
          case _: BroadcastExchangeLike => c("broadcasts") += 1
          case _: WindowExec => c("windows") += 1
          case _: SortAggregateExec => c("sort_aggregates") += 1
          case _ =>
        }
        p.expressions.foreach(_.foreach {
          case _: LambdaFunction => c("lambdas") += 1
          case _: ScalaUDF => c("scala_udfs") += 1
          case _ =>
        })
        p.children.foreach(walk)
        p.subqueries.foreach(walk)
    }
    walk(root)
    Seq("exchanges", "broadcasts", "windows", "sort_aggregates", "lambdas", "scala_udfs")
      .map(k => k -> c(k)).toMap
  }
}
