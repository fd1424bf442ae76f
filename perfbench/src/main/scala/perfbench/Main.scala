package perfbench

import java.lang.management.ManagementFactory
import javax.management.{Notification, NotificationEmitter, NotificationListener}
import javax.management.openmbean.CompositeData

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.sun.management.GarbageCollectionNotificationInfo
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The benchmark's JVM side: one `local[nproc]` session with the
  * `graft.Bench` session confs, one workload run as a closed loop with
  * one client, and a JSON result file that `run.py` turns into metrics
  * and checks.
  *
  * Usage (normally through run.py):
  * {{{
  *   perfbench.Main --workload registry|wiki_etl|curate --seed N --seconds S --trace 0|1
  *     --data DIR [--html DIR --warm-html DIR] --work DIR --out FILE [--queries q01_a,q02_b]
  * }}}
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, html: Option[String], warmHtml: Option[String], work: String, out: String,
      queries: Seq[String])

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toDouble, need("trace") == "1",
      need("data"), m.get("html"), m.get("warm-html"), need("work"), need("out"),
      m.get("queries").toSeq.flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty))
  }

  val json = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def need(v: Option[String], name: String): String = v.getOrElse(sys.error(s"missing --$name"))

  /** `graft.Bench`'s session confs at `local[nproc]`, with shuffle
    * partitions = nproc and Spark's scratch space inside `work`. */
  def session(cpus: Int, work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.shuffle.sort.bypassMergeThreshold", "0")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Highest heap occupancy right after a full collection, from GC
    * notifications. Young collections are left out: what they leave
    * includes the old generation's garbage. */
  final class HeapMonitor {
    @volatile var peakBytes = 0L
    @volatile var on = false
    private val listener = new NotificationListener {
      override def handleNotification(n: Notification, hb: Any): Unit =
        if (on && n.getType == GarbageCollectionNotificationInfo.GARBAGE_COLLECTION_NOTIFICATION) {
          val info = GarbageCollectionNotificationInfo.from(n.getUserData.asInstanceOf[CompositeData])
          if (info.getGcAction == "end of major GC") {
          val heapPools = ManagementFactory.getMemoryPoolMXBeans.asScala
            .filter(_.getType == java.lang.management.MemoryType.HEAP).map(_.getName).toSet
          val used = info.getGcInfo.getMemoryUsageAfterGc.asScala
            .collect { case (pool, u) if heapPools(pool) => u.getUsed }.sum
          if (used > peakBytes) peakBytes = used
          }
        }
    }
    ManagementFactory.getGarbageCollectorMXBeans.asScala.foreach {
      case e: NotificationEmitter => e.addNotificationListener(listener, null, null)
      case _ =>
    }

    /** Collect in full now, outside any timed window, and record what
      * stays live. The first collection only lets Spark's ContextCleaner
      * see which broadcasts, shuffles and RDDs are gone; their blocks are
      * freed by its thread after it, so the figure is taken after a
      * pause and a second collection, and the first is not recorded. */
    def sample(): Unit = {
      val was = on
      on = false
      System.gc()
      Thread.sleep(500)
      on = was
      System.gc()
      val used = ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed
      if (used > peakBytes) peakBytes = used
    }
  }

  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).filter(_ > 0).sum

  /** Whole-stage code generation plus Janino compile time so far, in ns. */
  def codegenNs(): Long = WholeStageCodegenExec.codeGenTime + CodeGenerator.compileTime

  private def secs(fromNs: Long): Double = (System.nanoTime() - fromNs) / 1e9

  /** Order-insensitive digest of a frame: row count and the sum of each
    * row's xxhash64 over all columns. Floating-point values are hashed as
    * their 10-significant-digit text, so a last-bit difference in a
    * floating-point fold does not change the digest. */
  def digest(df: DataFrame): (Long, String) = {
    def norm(c: Column, t: DataType): Column = t match {
      case DoubleType | FloatType => format_string("%.9e", c.cast(DoubleType))
      case ArrayType(et, _) => transform(c, x => norm(x, et))
      case StructType(fs) => struct(fs.toSeq.map(f => norm(c.getField(f.name), f.dataType).as(f.name)): _*)
      case _: MapType => to_json(map_entries(c))
      case _ => c
    }
    val cols = df.schema.fields.toSeq.map(f => norm(col(s"`${f.name}`"), f.dataType))
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols: _*)
    val r = df.agg(count(lit(1)), sum(h.cast(DecimalType(38, 0)))).head()
    (r.getLong(0), Option(r.getDecimal(1)).map(_.toString).getOrElse("0"))
  }

  /** Drop everything persisted or checkpointed, outside the timed window. */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.valuesIterator.foreach(_.unpersist(blocking = true))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors
    new java.io.File(args.work).mkdirs()
    val spark = session(cpus, args.work)
    val sessionReadyS = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val heap = new HeapMonitor
    val tracer = if (args.trace) Some(new Tracer(spark, args.workload)) else None
    val result = mutable.LinkedHashMap[String, Any](
      "workload" -> args.workload, "seed" -> args.seed,
      "identity" -> Map(
        "nproc" -> cpus, "master" -> spark.sparkContext.master,
        "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
        "driver_heap_mb" -> Runtime.getRuntime.maxMemory / (1 << 20),
        "spark_version" -> spark.version,
        "jdk_version" -> System.getProperty("java.version")),
      "session_ready_s" -> sessionReadyS)
    val w = new Workloads(spark, args, heap, tracer, result)
    try {
      args.workload match {
        case "registry" => w.registry()
        case "wiki_etl" => w.wiki()
        case "curate" => w.curate()
        case other => sys.error(s"unknown workload $other")
      }
      tracer.foreach { t =>
        t.detach()
        t.write(s"${args.work}/spans.jsonl")
      }
      val out = new java.io.PrintWriter(args.out, "UTF-8")
      try out.println(json.writeValueAsString(result)) finally out.close()
    } finally spark.stop()
  }

  /** One timed call into the program: `build` constructs (for a query,
    * `Q.fn`, eager actions included), `materialize` runs the final
    * action. `release` drops persisted blocks after the call, outside
    * the timed window. */
  final case class Call(name: String, group: String, build: () => Unit,
      materialize: () => Unit = () => (), release: Boolean = true)

  /** One workload's set-up, timed loop and output capture. */
  final class Workloads(spark: SparkSession, args: Args, heap: HeapMonitor,
      tracer: Option[Tracer], result: mutable.Map[String, Any]) {
    private val sc = spark.sparkContext

    /** Run the calls once, timing each one; `traced` attaches the tracer
      * for this iteration. Failures are recorded, never rethrown. */
    def iteration(n: Int, calls: Seq[Call], traced: Boolean): Map[String, Any] = {
      if (traced) tracer.foreach(_.attach())
      val listener0 = tracer.map(_.callbackNs).getOrElse(0L)
      val gc0 = gcMs()
      val code0 = codegenNs()
      val recs = calls.map { c =>
        val id = tracer.map(_.newId()).getOrElse(0L)
        val startMs = System.currentTimeMillis().toDouble
        if (traced) tracer.foreach(_.open(id, c.name, startMs))
        sc.setLocalProperty("perfbench.call", id.toString)
        val t0 = System.nanoTime()
        var err: String = null
        var buildS = 0.0
        try {
          c.build()
          buildS = secs(t0)
          c.materialize()
        } catch {
          case e: Throwable =>
            err = Option(e.getMessage).getOrElse(e.getClass.getName).take(300)
        }
        val wall = secs(t0)
        sc.setLocalProperty("perfbench.call", null)
        if (err != null) buildS = wall
        val rec = mutable.LinkedHashMap[String, Any]("name" -> c.name, "group" -> c.group,
          "wall_s" -> wall, "build_s" -> buildS, "materialize_s" -> (wall - buildS),
          "error" -> err)
        if (traced) {
          rec("resident_mb") = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
          rec("rdds_after") = sc.getPersistentRDDs.size
          tracer.foreach(_.call(id, c.name, startMs, startMs + wall * 1e3,
            rec.toMap ++ Map("iter" -> n, "build_end" -> (startMs + buildS * 1e3))))
        }
        if (c.release) release(spark)
        rec.toMap
      }
      if (traced) tracer.foreach(_.detach())
      Map("iter" -> n, "traced" -> traced, "wall_s" -> recs.map(_("wall_s").asInstanceOf[Double]).sum,
        "gc_s" -> (gcMs() - gc0) / 1e3, "codegen_s" -> (codegenNs() - code0) / 1e9,
        "listener_s" -> (tracer.map(_.callbackNs).getOrElse(0L) - listener0) / 1e9,
        "calls" -> recs)
    }

    /** Timed iterations until `seconds` have passed, at least one. A
      * traced run alternates untraced and traced iterations, at least one
      * of each, so that it measures its own tracing overhead. With `once`
      * the loop times exactly one iteration, traced in a traced run. */
    def loop(calls: Int => Seq[Call], once: Boolean = false): Unit = {
      heap.peakBytes = 0L
      heap.on = true
      val t0 = System.nanoTime()
      val iters = mutable.ArrayBuffer.empty[Map[String, Any]]
      val minIters = if (tracer.isEmpty || once) 1 else 2
      while (iters.size < minIters || (!once && secs(t0) < args.seconds)) {
        val n = iters.size
        iters += iteration(n, calls(n), traced = tracer.isDefined && (once || n % 2 == 1))
        heap.sample()
      }
      heap.on = false
      result("measured_s") = secs(t0)
      result("iterations") = iters.toSeq
      result("heap_live_peak_mb") = heap.peakBytes / 1e6
    }

    /** The `graft.queries` registry (or the `--queries` subset of it):
      * two untimed warm-up passes, the first building each query and
      * materializing it by taking its digest, the second as a timed pass
      * runs (one pass leaves the JIT still warming: the next three
      * passes' walls fall by a fifth), then timed passes in seed-permuted
      * order, each query built and materialized into the `noop` sink. */
    def registry(): Unit = {
      val all = graft.SparkEntry.registry
      val chosen = if (args.queries.isEmpty) all
        else args.queries.map(n => all.find(_.name == n).getOrElse(sys.error(s"no query $n")))
      val group = (for {
        (obj, qs) <- Seq("Relational" -> graft.queries.Relational.all,
          "WikiOps" -> graft.queries.WikiOps.all, "LlmOps" -> graft.queries.LlmOps.all,
          "PipelineOps" -> graft.queries.PipelineOps.all,
          "AnalyticsOps" -> graft.queries.AnalyticsOps.all,
          "TrainingOps" -> graft.queries.TrainingOps.all,
          "CurationOps" -> graft.queries.CurationOps.all,
          "ClusterOps" -> graft.queries.ClusterOps.all)
        q <- qs
      } yield q.name -> obj).toMap
      val t0 = System.nanoTime()
      val digests = chosen.map { q =>
        val d: Any = try {
          val (rows, h) = digest(q.fn(spark, args.data))
          Map("rows" -> rows, "hash" -> h)
        } catch {
          case e: Throwable => Map("error" -> Option(e.getMessage).getOrElse(e.toString).take(300))
        }
        release(spark)
        q.name -> d
      }
      val pass = (n: Int) =>
        new scala.util.Random(args.seed * 1000003L + n).shuffle(chosen).map { q =>
          var df: DataFrame = null
          Call(q.name, group(q.name), () => { df = q.fn(spark, args.data) },
            () => df.write.format("noop").mode("overwrite").save())
        }
      untimed(pass(-1))
      result("warmup_s") = secs(t0)
      result("digests") = digests.toMap
      loop(pass)
    }

    /** Run the calls once, outside the timed window. Failures are left to
      * the timed iterations and the output checks to report. */
    def untimed(calls: Seq[Call]): Unit = calls.foreach { c =>
      try { c.build(); c.materialize() } catch { case _: Throwable => () }
      if (c.release) release(spark)
    }

    /** Two untimed warm-up iterations of `warmUp`, then the timed loop. */
    def warmThenLoop(warmUp: Seq[Call], calls: => Seq[Call]): Unit = {
      val t0 = System.nanoTime()
      untimed(warmUp)
      untimed(warmUp)
      result("warmup_s") = secs(t0)
      loop(_ => calls)
    }

    /** One `Curate.run` with the default policies in a fresh session, as a
      * batch job runs it: no warm-up, exactly one timed call. */
    def curate(): Unit = {
      val out = s"${args.work}/curate_out"
      var report: graft.curation.Curate.Report = null
      result("warmup_s") = 0.0
      loop(_ => Seq(Call("Curate.run", "curation",
        () => { report = graft.curation.Curate.run(spark, args.data, out) })), once = true)
      if (report != null) {
        result("report") = report.productElementNames.zip(report.productIterator).toMap
        val (rows, h) = digest(spark.read.parquet(s"$out/shards"))
        result("shards_digest") = Map("rows" -> rows, "hash" -> h)
      }
    }

    /** The reference's Airflow DAG over the crawled pages in `--html`:
      * categorize and normalize, write the relational model as parquet,
      * collect the category distribution from it, convert the pages to
      * text. The warm-up runs the same DAG over the smaller crawl in
      * `--warm-html`; the outputs checked are the last timed iteration's. */
    def wiki(): Unit = {
      import graft.wiki.{Categorize, Convert}
      val out = s"${args.work}/wiki_out"
      var model: Categorize.Model = null
      var dist: Array[org.apache.spark.sql.Row] = Array.empty
      val r = spark.read
      def dag(html: String) = Seq(
        Call("categorize", "wiki",
          () => { model = Categorize.normalize(Categorize.processHtmlFiles(spark, html)) },
          release = false),
        Call("model_write", "wiki", () => (), () => {
          model.pages.write.mode("overwrite").parquet(s"$out/pages")
          model.categories.write.mode("overwrite").parquet(s"$out/categories")
          model.pageCategories.write.mode("overwrite").parquet(s"$out/page_categories")
        }),
        Call("distribution", "wiki", () => (), () => {
          dist = Categorize.categoryDistribution(Categorize.Model(r.parquet(s"$out/pages"),
            r.parquet(s"$out/categories"), r.parquet(s"$out/page_categories"))).collect()
        }),
        Call("convert", "wiki", () => (), () => { Convert.run(spark, html, s"$out/text") }))
      warmThenLoop(dag(need(args.warmHtml, "warm-html")), dag(need(args.html, "html")))
      result("wiki_outputs") = out
      result("distribution") = dist.toSeq.map(r => Seq(r.getString(0), r.getLong(1)))
    }
  }
}
