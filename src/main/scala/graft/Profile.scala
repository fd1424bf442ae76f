package graft

import java.nio.file.{Files, Path, Paths}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.concurrent.atomic.{AtomicLong, LongAdder}
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobEnd,
  SparkListenerJobStart, SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FormattedMode, SQLExecution}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLAdaptiveExecutionUpdate,
  SparkListenerSQLExecutionStart}
import scala.collection.concurrent.TrieMap

/** Diagnostics main: one JSON record per target from a single
  * SparkListener, plus each query's AQE-final formatted plan.
  *
  * Usage: `sbt "runMain graft.Profile <sfDir> <outDir> <target>..."`. A
  * target is
  *  - a registry query name, or an unambiguous prefix of one;
  *  - `curate`: one `Curate.run(verbose = true)` writing its shards to
  *    `<outDir>/curate`, whose record adds the funnel;
  *  - `plans`: the representative queries in [[picks]], then
  *    `<outDir>/PLANS.md` built from their plans and why-lines.
  *
  * Each record is one JSON line on stdout; each plan goes to
  * `<outDir>/plans/<query>.txt`. The session is `GraftSession`'s at
  * SPARK_GRAFT_CPUS cores (default: all available processors).
  *
  * A query runs once untimed (footer reads, codegen, JIT), then once
  * measured: the measured run builds the frame, so construction-time
  * actions count, and drives the frame's OWN QueryExecution through
  * `toRdd` inside a SQL execution, discarding rows on the executors.
  * The written plan is therefore the AQE-final one. A noop write (or `Dataset.foreach`)
  * executes a separate QueryExecution and leaves the frame's plan at
  * isFinalPlan=false; `collect` would pull corpus-sized outputs onto the
  * driver.
  *
  * Record fields: `wall_s`, `jobs`, `stages`, `tasks`, `task_s` (summed
  * task durations), `input_bytes`, `shuffle_write_bytes`, `job_walls`
  * (`[{id, ms, callsite}]`), `top_stages` (`[{id, task_s, name}]`, the
  * ten with the most task time) and `plan_desc_max_bytes`. Input and
  * shuffle bytes are properties of plan and data, free of host noise:
  * comparing two scale factors shows which operators move data
  * linearly, sublinearly or not at all.
  */
object Profile {

  /** name → why this plan is worth reading. */
  private val picks: Seq[(String, String)] = Seq(
    "q01_pricing_summary" -> "scan: pushed date filter + pruned columns; partial hash agg below the shuffle",
    "q05_region_revenue" -> "star join: each dimension broadcasts by its size, so the lineitem side streams unshuffled",
    "q14_topk_orders" -> "TakeOrderedAndProject — top-k without a global sort",
    "q33_minhash_lsh_dup" -> "LSH: native minhash64 inside codegen, candidate join keyed on (band, bucket)",
    "q41_html_extract" -> "native parse_page evaluated once, above the range-sort (sampler must not re-parse)",
    "q60_ann_ivf" -> "IVF: codebook + query sides broadcast, corpus cells shuffle once",
    "q71_cms_heavy_hitters" -> "typed Aggregator with map-side partial reduce (ObjectHashAggregate)",
    "q75_column_profile" -> "hash-planned Expand multi-column count-distinct + a pruned 1-column string min/max pass (string buffers would force SortAggregate), stack unpivot",
    "q77_decontaminate" -> "probe shingles broadcast by AQE from their measured exchange; native ngrams in the codegen stage",
    "q85_vocab_oov" -> "top-100 vocab via TakeOrderedAndProject, broadcast back over the token stream",
    "q87_embed_cell_dedup" -> "SemDeDup: broadcast codebook assignment, within-cell pair join keyed on cent_id",
    "q91_range_binned" -> "non-equi range predicate executed as a hash equi-join on the bin id (no nested loop)",
    "q94_containment_dedup" -> "asymmetric prefix filter: contained side pruned, index side full, shingle-keyed candidates",
    "q104_winnowing" -> "winnowing: one doc-keyed window exchange computing both count and frame-min; packed 8-byte values",
    "q107_graph_pagerank" -> "five PageRank iterations: dst-partitioned stored edge frame (the Stored seam keeps the partitioning), rank BROADCAST each round (hinted: the lazy round state has no statistics) — no edge shuffle and no contribution exchange in the loop",
    "q108_quantized_ann" -> "two-stage ANN: broadcast query codes, integer-dot candidate window, float re-rank window over 20/query",
    "q122_ivfpq_search" -> "IVF-PQ serving path: map-side l2argmin routing (no corpus window), broadcast distance tables ON cell_id, WindowGroupLimit-pruned shortlist, broadcast-shortlist refine — constant shuffle across three decades",
    "q124_bpe_merges" -> "BPE training: one corpus histogram agg, then vocabulary-sized merge rounds — the overlap rule as a single chained window pass per round (one exchange, fused WindowExecs)",
    "q96_novelty_curve" -> "novelty without a gram-sized join-back: distinct (batch, gram-hash) explode, then per-batch counts and a first-batch regroup joined at 10 rows",
    "q128_perceptual_dedup" -> "multimodal→ANN composition: mapPartitions PPM decode at the codec seam, centered integer fingerprints, blocked self-join with the native dot kernel — the fingerprint subtree computed once (exchange reuse across the join sides)",
    "q131_video_near_dup" -> "the shared banded-cosine kernel on DECODED video energies: checkpointed scaled fingerprints (ExistingRDD scan, no parquet below the kernel), the hash(blk) exchange reused across both self-join sides, broadcast b-side with the explicitly repartitioned probe",
    "q137_bm25_topk" -> "BM25 over q120's checkpointed posting build: broadcast query side + broadcast 2-long stats row, dl joined candidate-sized, per-pair sorted-fold above ONE (query_id, doc_id) exchange, WindowGroupLimit rank cut — zero SortMergeJoins, nothing corpus-broadcast",
    "q141_quality_calibrate" -> "per-source calibration: one integer feature scan, decimal(38,0) fixed-point projection, BlockRanks range-split rank (no single-task hot-source window), broadcast sources-sized count join",
    "q143_quality_rank_fusion" -> "ensemble RRF: two independent signal chains (checkpointed at their range splits), two p-way global ranks, one doc-keyed left join — no global window, no score-scale mixing",
    "q145_quality_train" -> "trained classifier, one GD round visible per scan: checkpointed design matrix read as a LogicalRDD, crossJoin of the one-row broadcast weight frame, five-sum partial agg (map-side combine) to a single row — no parameter server, no driver loop over rows",
    "q146_quality_apply" -> "trained classifier apply: round-3 weight row broadcast into one per-row codegen projection over the checkpointed design matrix; the only exchange is the output sort")

  /** Every counter a record carries, fed by one listener. The listener
    * bus is asynchronous: drain it (`GraftListenerBridge`) before
    * `reset` and before reading, or the tail of the measured run is
    * undercounted and the warm-up's leaks in. */
  final class Probe extends SparkListener {
    private val jobStarts = TrieMap.empty[Int, (Long, String)]
    private val jobWalls = TrieMap.empty[Int, Double]
    private val stageNames = TrieMap.empty[Int, String]
    private val stageTaskMs = TrieMap.empty[Int, LongAdder]
    private val tasks, taskMs, inputBytes, shuffleBytes = new LongAdder
    private val planDescMax = new AtomicLong

    // a job's callsite is its result stage's name, the stage created last
    override def onJobStart(j: SparkListenerJobStart): Unit =
      jobStarts(j.jobId) = (System.nanoTime(),
        if (j.stageInfos.isEmpty) "?" else j.stageInfos.maxBy(_.stageId).name)
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      jobStarts.get(j.jobId).foreach { case (t0, _) =>
        jobWalls(j.jobId) = (System.nanoTime() - t0) / 1e6
      }
    override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
      stageNames(s.stageInfo.stageId) = s.stageInfo.name
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
      tasks.increment()
      if (t.taskInfo != null) {
        taskMs.add(t.taskInfo.duration)
        stageTaskMs.getOrElseUpdate(t.stageId, new LongAdder).add(t.taskInfo.duration)
      }
      if (t.taskMetrics != null) {
        inputBytes.add(t.taskMetrics.inputMetrics.bytesRead)
        shuffleBytes.add(t.taskMetrics.shuffleWriteMetrics.bytesWritten)
      }
    }

    // Spark formats the physical plan on the driver at every SQL execution
    // start and AQE plan update, and its status store keeps the text
    override def onOtherEvent(e: SparkListenerEvent): Unit = Some(e).collect {
      case s: SparkListenerSQLExecutionStart => s.physicalPlanDescription
      case u: SparkListenerSQLAdaptiveExecutionUpdate => u.physicalPlanDescription
    }.foreach(d => planDescMax.accumulateAndGet(d.getBytes(UTF_8).length, math.max))

    /** UTF-8 bytes of the largest plan description posted since `reset`. */
    def planDescMaxBytes: Long = planDescMax.get

    def reset(): Unit = {
      jobStarts.clear(); jobWalls.clear(); stageNames.clear(); stageTaskMs.clear()
      Seq(tasks, taskMs, inputBytes, shuffleBytes).foreach(_.reset())
      planDescMax.set(0L)
    }

    /** One JSON record; `extra` is appended verbatim as further fields. */
    def record(target: String, sfDir: String, wallS: Double, extra: String = ""): String = {
      import Bench.jstr
      def ms(x: Double) = math.rint(x * 10) / 10
      val jobs = jobStarts.toSeq.sortBy(_._1).map { case (id, (_, cs)) =>
        s"""{"id":$id,"ms":${jobWalls.get(id).map(ms).getOrElse(-1.0)},"callsite":${jstr(cs)}}"""
      }
      val top = stageTaskMs.toSeq.map { case (id, a) => (id, a.sum()) }
        .sortBy { case (id, t) => (-t, id) }.take(10).map { case (id, t) =>
          s"""{"id":$id,"task_s":${t / 1e3},"name":${jstr(stageNames.getOrElse(id, "?"))}}"""
        }
      s"""{"target":${jstr(target)},"sf":${jstr(sfDir)},"wall_s":${Bench.d2(wallS)},""" +
        s""""jobs":${jobStarts.size},"stages":${stageNames.size},"tasks":${tasks.sum()},""" +
        s""""task_s":${Bench.d2(taskMs.sum() / 1e3)},"input_bytes":${inputBytes.sum()},""" +
        s""""shuffle_write_bytes":${shuffleBytes.sum()},""" +
        s""""plan_desc_max_bytes":${planDescMax.get},""" +
        s""""job_walls":${jobs.mkString("[", ",", "]")},""" +
        s""""top_stages":${top.mkString("[", ",", "]")}$extra}"""
    }
  }

  /** Exact registry name, else the one name it prefixes. */
  def resolve(name: String): String = {
    val candidates = SparkEntry.queries.keys.toSeq.sorted
    if (candidates.contains(name)) name
    else candidates.filter(_.startsWith(name)) match {
      case Seq(one) => one
      case Seq() => throw new IllegalArgumentException(
        s"no query named '$name'; known: ${candidates.mkString(", ")}")
      case many => throw new IllegalArgumentException(
        s"ambiguous prefix '$name' matches ${many.mkString(", ")}")
    }
  }

  /** Run `df` through its own QueryExecution, discarding rows on the
    * executors, inside a SQL execution as an action runs: its jobs carry
    * the execution id, and its plan descriptions are posted. */
  private def execute(df: DataFrame): Unit =
    SQLExecution.withNewExecutionId(df.queryExecution, Some("profile")) {
      df.queryExecution.toRdd.foreach(_ => ())
    }

  /** Warm-up, then the measured run of registry query `name`; writes
    * `<planDir>/<name>.txt` and returns the record. */
  def query(spark: SparkSession, probe: Probe, sfDir: String, name: String,
      planDir: Path): String = {
    val fn = SparkEntry.queries(name)
    execute(fn(spark, sfDir))
    graft.ops.Stored.releaseAll(spark)
    GraftListenerBridge.drainListenerBus(spark.sparkContext)
    probe.reset()
    val t0 = System.nanoTime()
    val df = fn(spark, sfDir)
    execute(df)
    val wall = (System.nanoTime() - t0) / 1e9
    GraftListenerBridge.drainListenerBus(spark.sparkContext)
    Files.createDirectories(planDir)
    Files.writeString(planDir.resolve(s"$name.txt"),
      df.queryExecution.explainString(FormattedMode))
    graft.ops.Stored.releaseAll(spark)
    probe.record(name, sfDir, wall)
  }

  /** One `Curate.run` into `outDir`; the record adds its funnel. */
  def curate(spark: SparkSession, probe: Probe, sfDir: String, outDir: String): String = {
    GraftListenerBridge.drainListenerBus(spark.sparkContext)
    probe.reset()
    val t0 = System.nanoTime()
    val r = curation.Curate.run(spark, sfDir, outDir, verbose = true)
    val wall = (System.nanoTime() - t0) / 1e9
    GraftListenerBridge.drainListenerBus(spark.sparkContext)
    probe.record("curate", sfDir, wall,
      s""","funnel":{"input":${r.nInput},"quality":${r.nQuality},"lm":${r.nLmPass},""" +
        s""""exact":${r.nExactDedup},"near":${r.nNearDedup},"media":${r.nMediaDedup},""" +
        s""""decontam":${r.nDecontaminated},"sem":${r.nSemClean},"rewritten":${r.nRewritten},""" +
        s""""thinned":${r.nThinned},"sampled":${r.nSampled},"chunks":${r.nChunks},""" +
        s""""shards":${r.nShards},"tokens":${r.nTokens}}""")
  }

  /** PLANS.md from the written plan files of [[picks]]. */
  private def plansMd(sfDir: String, planDir: Path): String = {
    val sb = new StringBuilder
    sb ++= "# PLANS — formatted physical plans for representative queries\n\n"
    sb ++= s"Generated by `graft.Profile` at $sfDir. Regenerate: " +
      "`sbt \"runMain graft.Profile <sfDir> <outDir> plans\"` and copy `<outDir>/PLANS.md`.\n"
    picks.foreach { case (name, why) =>
      sb ++= s"\n## $name\n\n$why\n\n```\n"
      sb ++= Files.readString(planDir.resolve(s"$name.txt"))
      sb ++= "```\n"
    }
    sb.toString
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: graft.Profile <sfDir> <outDir> <target>...")
    val sfDir = args(0)
    val out = Paths.get(args(1))
    // resolve every name before starting Spark, so a typo fails fast
    val targets = args.drop(2).toSeq.map {
      case t @ ("curate" | "plans") => t
      case t => resolve(t)
    }
    val planDir = out.resolve("plans")

    val cpus = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
      .getOrElse(Runtime.getRuntime.availableProcessors)
    val spark = GraftSession.builder(cpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    targets.foreach {
      case "curate" => println(curate(spark, probe, sfDir, out.resolve("curate").toString))
      case "plans" =>
        picks.foreach { case (name, _) => println(query(spark, probe, sfDir, name, planDir)) }
        Files.writeString(out.resolve("PLANS.md"), plansMd(sfDir, planDir))
      case name => println(query(spark, probe, sfDir, name, planDir))
    }
    spark.stop()
  }
}
