package graft
import scala.collection.immutable.ListMap

/** Per-round benchmark harness. Prints ONE JSON line the driver records as
  * BENCH_r{N}.json.
  *
  * Measurement hygiene (round-1 verdict fixes):
  *  - every query is fully materialized through the `noop` datasource sink,
  *    so Catalyst cannot prune projection-only expressions or drop
  *    top-level sorts the way a bare `.count()` allowed;
  *  - one untimed warmup run of the flagship query pays JVM/codegen/
  *    classloading startup before anything is timed;
  *  - failures are NOT swallowed: a failed query records `-1` in the
  *    per-query map, is listed in an `errors` object, and flips the exit
  *    code — a regression can't masquerade as a fast run.
  *
  * Contention hygiene (round-8 verdict #1 — the recorded gate artifact
  * was contention-polluted three rounds running; make it self-describing
  * and self-healing):
  *  - the host's 1/5/15-min load averages are read BEFORE any Spark work
  *    and recorded in the JSON (`load`), with the 1-min load re-read at
  *    the end (`load_end`): a polluted run is visibly marked in the
  *    artifact itself, no forensic appendix needed;
  *  - if the starting 1-min load exceeds SPARK_GRAFT_LOAD_GATE (default
  *    1.5 — an idle host with sbt's compile threads just wound down sits
  *    well under it), sleep SPARK_GRAFT_LOAD_GATE_SLEEP_S (default 60)
  *    and re-read once, letting a transient spike (the sbt compile that
  *    launched us, a co-tenant burst) decay out of the 1-min window;
  *    `gated` records whether the gate fired;
  *  - total JVM GC time across the timed region is recorded (`gc_ms`) —
  *    GC pressure is the other non-code cause of phantom regressions;
  *  - if the two timed passes' totals disagree by more than 10%, ONE
  *    extra pass runs and the per-query min is taken across all passes
  *    (`passes` records how many ran): the min of repeated runs is the
  *    noise-robust estimator, and a third sample under disagreement is
  *    what makes two consecutive artifacts agree within ~10% on a noisy
  *    host instead of needing adjudication.
  *
  * Round-16 additions (round-15 verdict #1 — the gate artifact breached
  * 2× while the same tree ran 1.58× quiet hours earlier; loadavg saw
  * nothing): the run now ACTS on its contention instruments instead of
  * only recording them.
  *  - pre-run SPIN gate: a 1-thread fixed-work probe calibrates the
  *    host's quiet per-core floor (steal-immune — it lands on a free
  *    core), then the all-core probe must come within
  *    SPARK_GRAFT_SPIN_GATE_RATIO (1.25×) of it or the run sleeps and
  *    re-probes, sharing the load gate's bounded tries;
  *  - post-run HISTORY retry: if the min-total exceeds
  *    SPARK_GRAFT_RETRY_RATIO (1.25×) the best clean same-sf
  *    same-registry total in the in-tree BENCH_HISTORY.jsonl — the
  *    tree's own quiet floor, which sees the memory-bandwidth co-tenant
  *    pressure no probe here fully does — one more full pass runs after
  *    a gate-interval sleep (bounded by SPARK_GRAFT_RUN_RETRIES=1) and
  *    per-query mins keep whichever samples were better; the line
  *    records `retried`/`pre_retry_total` so both totals are evidence.
  */
object Bench {

  private[graft] def jstr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  private[graft] def d2(x: Double): Double = math.rint(x * 100) / 100

  /** How many per-query entries the tail line carries. The full map
    * goes to BENCH_DETAIL.json (see main); the line keeps the slowest
    * `lineTopK` — the heavy tail every round's analysis actually
    * cites — so the LINE SIZE IS CONSTANT in registry growth and the
    * ~150-query cliff (round-9 verdict #2) is gone structurally, not
    * just postponed. */
  private[graft] val lineTopK = 20

  /** The ONE output line, as a pure function of the measurements — so
    * BenchLineSpec can render it at the live registry size and assert it
    * fits the driver's ~2000-char tail window with ≥25 queries of
    * growth headroom (round-9 verdict #2: at ~12 B/query the FULL map
    * would have outgrown the window near ~150 queries and the driver's
    * parse would fail SILENTLY; round 12 bounds the map to the slowest
    * `lineTopK` + every failure, full precision in BENCH_DETAIL.json).
    * Compactness rules: per-query keys are the unique `qNN` prefix,
    * values 2-decimal, no spaces anywhere; `n_queries` records the full
    * registry size the total covers. `loadPregate` preserves the
    * pre-sleep load sample when the quiet-host gate fired — the
    * evidence of the contention that triggered it (round-9 advice: the
    * post-sleep re-read used to overwrite it).
    */
  /** Fixed-work PARALLEL CPU probe: every one of `threads` threads runs
    * a constant xorshift64 loop; the reported ms is the SLOWEST
    * thread's wall. The quiet-host gate reads /proc/loadavg, but this
    * VM's contention is hypervisor steal — co-tenant VMs holding some
    * of the physical cores — which in-guest load average cannot see,
    * and which a SINGLE-thread probe dodges by landing on a free core:
    * round 15 measured full runs at 111-130 s (vs the same tree's
    * 89.7-95.7 s quiet samples) with 1-thread probes flat at the
    * ~210 ms floor through all of them. Only all-core fixed work
    * exposes partial-core steal: quiet, max-thread wall ≈ the 1-thread
    * floor (every vCPU gets a core); contended, the slowest thread
    * carries the steal directly. Observational, not a gate — recorded
    * as `spin_ms` at run start (post-gate), post-warmup, and after
    * every timed pass, so an episodic burst is localized to the pass
    * it hit; the quiet-floor calibration lives in BENCH_HISTORY.
    */
  private[graft] def spinProbeMs(threads: Int): Long = {
    val walls = new java.util.concurrent.atomic.AtomicLong(0L)
    val ts = (1 to threads).map { _ =>
      new Thread(() => {
        var x = 0x9e3779b97f4a7c15L
        var i = 0
        val t0 = System.nanoTime()
        while (i < 100000000) {
          x ^= x << 13; x ^= x >>> 7; x ^= x << 17; i += 1
        }
        val dt = (System.nanoTime() - t0) / 1000000
        if (x == 0L) System.err.println("unreachable: xorshift hit zero")
        walls.accumulateAndGet(dt, math.max)
      })
    }
    ts.foreach(_.start()); ts.foreach(_.join())
    walls.get()
  }

  /** 8-hex fingerprint of the run's QUERY SET (sorted names) — history
    * lines carry it so historyBest never matches a different query set
    * that happens to share (sf, count). Round-17 find: a q128-solo run
    * at /tmp/sf1 retried against a 1.21 s floor that belonged to some
    * OTHER query's solo run — n_queries=1 is not an identity.
    * SHA-256, not MD5: MD5 throws NoSuchAlgorithmException on
    * FIPS-mode JVMs, and this runs AFTER the timed passes — a crash
    * here would lose a completed measurement. No cryptographic
    * strength needed, only a stable 32-bit set identity. Names are
    * escaped before the comma-join so a name that ever contained a
    * comma could not collide with a different set (["a,b"] vs
    * ["a","b"]); for the comma-free names every registry has had, the
    * escape is the identity map, so banked floors keep their qset. */
  private[graft] def qsetHash(names: Seq[String]): String =
    java.security.MessageDigest.getInstance("SHA-256")
      .digest(names.sorted
        .map(_.replace("\\", "\\\\").replace(",", "\\,"))
        .mkString(",").getBytes("UTF-8"))
      .take(4).map(b => f"${b & 0xff}%02x").mkString

  private[graft] def renderLine(results: Seq[(String, Double)],
      errors: Map[String, String], sfDir: String, load: Array[Double],
      loadPregate: Option[Double], loadEnd: Double, gated: Int,
      gcMs: Long, passes: Int, spinMs: Seq[Long] = Nil,
      spinThreads: Int = 32, spinFloor: Long = -1, histBest: Double = -1,
      retried: Int = 0, preRetryTotal: Double = -1): String = {
    // slowest lineTopK successes + every failure (-1 values must stay
    // visible in the line even when they are not "slow")
    val kept = results.filter(_._2 < 0) ++
      results.filter(_._2 >= 0).sortBy(-_._2).take(lineTopK)
    val qs = kept.sortBy(_._1).map { case (k, v) =>
      s"${jstr(k.takeWhile(_ != '_'))}:${d2(v)}"
    }.mkString("{", ",", "}")
    val errJson = errors.map { case (k, v) => s"${jstr(k)}:${jstr(v)}" }
      .mkString("{", ",", "}")
    val total = results.collect { case (_, v) if v >= 0 => v }.sum
    val pregate = loadPregate.map(l => s""","load_pregate":${d2(l)}""").getOrElse("")
    // retry evidence only when a retry actually fired — keeps the
    // common-case line short while "record both totals" (round-15
    // directive 1a) holds whenever it matters
    val retryJson = if (retried > 0)
      s""","retried":$retried,"pre_retry_total":${d2(preRetryTotal)}""" else ""
    s"""{"metric":"total","value":${d2(total)},"unit":"sec","n_queries":${results.size},"qset":"${qsetHash(results.map(_._1))}","queries":$qs,"errors":$errJson,"n_failed":${errors.size},"sf":${jstr(sfDir)},"load":[${d2(load(0))},${d2(load(1))},${d2(load(2))}]$pregate,"load_end":${d2(loadEnd)},"gated":$gated,"gc_ms":$gcMs,"spin_ms":[${spinMs.mkString(",")}],"spin_t":$spinThreads,"spin_floor":$spinFloor,"hist_best":${d2(histBest)}$retryJson,"passes":$passes}"""
  }

  /** Best (minimum) clean same-shape total in the append-only run
    * history: same sf dir, same registry size, same thread count
    * (`spin_t`), zero failures. A line without `spin_t` never matches:
    * its thread count is unknown, and a floor from a wider host would
    * fire the retry on every run of a narrower one. This is
    * the tree's own quiet floor — the reference the post-run retry
    * gate compares against (round-15 verdict #1: the gate "never
    * consults the in-tree BENCH_HISTORY floor"). Regex field pulls, not
    * a JSON parser: the file is machine-written one-object-per-line by
    * renderLine above, and a malformed line must skip, not crash. */
  private[graft] def historyBest(path: java.nio.file.Path, sfDir: String,
      nQueries: Int, qset: String, fullRegistry: Boolean, threads: Int): Double = {
    val value = """"value":([0-9.]+)""".r
    val nq = """"n_queries":(\d+)""".r
    val nf = """"n_failed":(\d+)""".r
    val sf = """"sf":"((?:[^"\\]|\\.)*)"""".r
    val qs = """"qset":"([0-9a-f]+)"""".r
    val st = """"spin_t":(\d+)""".r
    try {
      import scala.jdk.CollectionConverters._
      val best = java.nio.file.Files.readAllLines(path).asScala.iterator
        .flatMap { l =>
          // lines WITH a qset must carry OUR query-set fingerprint; legacy
          // qset-less lines (pre round 17) match on (sf, count) but only
          // for FULL-registry runs — a legacy "n_queries":1 line is some
          // unknowable solo query and must never become another solo
          // run's retry floor (the observed false `retried:1`)
          val qsetOk = qs.findFirstMatchIn(l).map(_.group(1)) match {
            case Some(h) => h == qset
            case None    => fullRegistry
          }
          for {
            v <- value.findFirstMatchIn(l).map(_.group(1).toDouble)
            q <- nq.findFirstMatchIn(l).map(_.group(1).toInt)
            f <- nf.findFirstMatchIn(l).map(_.group(1).toInt)
            s <- sf.findFirstMatchIn(l).map(_.group(1))
            t <- st.findFirstMatchIn(l).map(_.group(1).toInt)
            if q == nQueries && f == 0 && s == sfDir && v > 0 && qsetOk &&
              t == threads
          } yield v
        }.foldLeft(Double.MaxValue)(math.min)
      if (best == Double.MaxValue) -1.0 else best
    } catch { case scala.util.control.NonFatal(_) => -1.0 }
  }

  /** Full-precision per-query map, written beside the repo as
    * BENCH_DETAIL.json (the tail line carries only the top-`lineTopK`):
    * one JSON object, 3-decimal seconds, full query names — the
    * round-over-round per-query comparison surface. Committed per round
    * from the closing local run; the driver's own run refreshes it in
    * the working tree. */
  private[graft] def renderDetail(results: Seq[(String, Double)],
      sfDir: String, gcMs: Long, passes: Int): String = {
    val qs = results.map { case (k, v) =>
      s"${jstr(k)}:${math.rint(v * 1000) / 1000}"
    }.mkString("{", ",", "}")
    s"""{"sf":${jstr(sfDir)},"gc_ms":$gcMs,"passes":$passes,"queries":$qs}"""
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")

    def loadAvgs(): Array[Double] =
      try {
        val s = scala.io.Source.fromFile("/proc/loadavg").mkString.trim
          .split("\\s+")
        Array(s(0).toDouble, s(1).toDouble, s(2).toDouble)
      } catch {
        case _: Throwable =>
          val l = java.lang.management.ManagementFactory
            .getOperatingSystemMXBean.getSystemLoadAverage
          Array(l, -1.0, -1.0)
      }
    def gcMs(): Long = {
      import scala.jdk.CollectionConverters._
      java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
        .asScala.map(_.getCollectionTime).filter(_ >= 0).sum
    }

    // quiet-host gate: measure BEFORE any Spark work so the reading is
    // the co-tenant load, not our own. Up to `tries` sleeps (not one):
    // a single 60 s wait beats a transient spike but not a persistent
    // co-tenant — round-14 measured 95.7 vs 115.0/122.6/136.5 s for
    // the SAME tree across one evening of sustained co-tenant load,
    // so buying up to a few minutes of waiting is cheap against a 25%
    // polluted gate artifact. `gated` records how many sleeps fired
    // (0 = quiet start; prior rounds' artifacts used 0/1).
    val gateThreshold =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE", "1.5").toDouble
    val gateTries =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE_TRIES", "3").toInt
    var loadStart = loadAvgs()
    var loadPregate: Option[Double] = None
    var gated = 0
    while (loadStart(0) > gateThreshold && gated < gateTries) {
      gated += 1
      if (loadPregate.isEmpty)
        loadPregate = Some(loadStart(0)) // keep the first triggering sample
      Thread.sleep(
        sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE_SLEEP_S", "60").toLong * 1000)
      loadStart = loadAvgs()
    }

    // steal-visible contention probes: run start (post-gate), after
    // warmup, after every timed pass, run end — the ARRAY localizes an
    // episodic steal burst to the pass it hit (the first start/end-only
    // version recorded 212/210 ms around a run that was 20% inflated:
    // the burst lived entirely between the two samples).
    //
    // Probe threads = the same count as the Spark master (round-15
    // advice: a hardcoded 32 silently mis-subscribes other hosts);
    // recorded in the line as `spin_t`.
    val spinThreads = cpus.toInt
    // Host floor calibration: ONE thread running the same fixed work.
    // Round-15 forensics showed the 1-thread probe stays flat at the
    // host's quiet per-core time (~210 ms here) even through 45%-
    // inflated runs (it lands on a free core), so it is a steal-immune
    // floor estimate computed fresh per host per run — no hardcoded ms.
    // Quiet, the all-core probe's slowest thread ≈ this floor; the
    // ratio above 1 is the steal/bandwidth tax.
    val spinFloor = spinProbeMs(1)
    // Spin-aware pre-run gate (round-15 verdict #1a: the gate "records
    // spin_ms but doesn't ACT on it"): if the parallel probe exceeds
    // SPARK_GRAFT_SPIN_GATE_RATIO × floor (default 1.25 — the breach
    // run's probes sat at 1.01-1.21× while quiet runs sit ≈1.0×),
    // sleep and re-probe, bounded by the same gateTries budget. Each
    // probe lands in `spins`, so the artifact shows the gate's
    // evidence trail; `gated` counts BOTH load and spin sleeps.
    val spinGateRatio =
      sys.env.getOrElse("SPARK_GRAFT_SPIN_GATE_RATIO", "1.25").toDouble
    val gateSleepMs =
      sys.env.getOrElse("SPARK_GRAFT_LOAD_GATE_SLEEP_S", "60").toLong * 1000
    val spins = scala.collection.mutable.ArrayBuffer(spinProbeMs(spinThreads))
    while (spins.last > spinGateRatio * spinFloor && gated < gateTries) {
      gated += 1
      Thread.sleep(gateSleepMs)
      spins += spinProbeMs(spinThreads)
    }

    val builder = GraftSession.builder(cpus.toInt)
    // SPARK_GRAFT_CONF="k=v;k=v" — extra session confs for conf-level
    // A/B experiments (the BENCH_NOTES A/B protocol) without a code
    // edit per arm; semicolon-separated because conf VALUES may
    // contain commas. Ignored when unset, so the driver's canonical
    // run is untouched by the hook's existence.
    var requestedCodegenCache =
      GraftSession.confs.toMap.apply("spark.sql.codegen.cache.maxEntries")
    sys.env.get("SPARK_GRAFT_CONF").foreach(_.split(';').iterator
      .map(_.trim).filter(_.nonEmpty).foreach { kv =>
        // a stray ';k' or bare token used to die as an opaque
        // MatchError with no hint which entry was bad (round-15 advice)
        require(kv.contains('='), s"malformed SPARK_GRAFT_CONF entry (no '='): $kv")
        val Array(k, v) = kv.split("=", 2)
        if (k == "spark.sql.codegen.cache.maxEntries") requestedCodegenCache = v
        builder.config(k, v)
      })
    val spark = builder.getOrCreate()
    // codegen.cache.maxEntries is a STATIC SQL conf: builder.config
    // only takes effect for the FIRST session in the JVM and is
    // silently ignored if getOrCreate returned an existing one — in an
    // embedded/reused-JVM context the recompilation fix would silently
    // vanish and every timed pass would recompile every query (the
    // round-16 ~35% find, un-fixed). Fail loudly instead (round-16
    // advice). Compared against the value this run REQUESTED — the
    // builder default or a deliberate SPARK_GRAFT_CONF A/B override —
    // so the documented conf-hook protocol can still drive this conf.
    require(spark.conf.get("spark.sql.codegen.cache.maxEntries") == requestedCodegenCache,
      "Bench requires a fresh JVM: spark.sql.codegen.cache.maxEntries is a " +
        "static conf and an existing SparkSession ignored it — timings would " +
        "silently include per-pass codegen recompilation")
    spark.sparkContext.setLogLevel("WARN")

    def materialize(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir)
        .write.format("noop").mode("overwrite").save()

    /** Post-query isolation, OUTSIDE the timed window, so no timing
      * inherits another query's stored state: across a 125-query ×
      * 3-pass run, checkpoint blocks left to the ContextCleaner inflated
      * late queries ~25% and tripled GC time (8.5 s vs 2.4 s). The wait
      * for the eviction is free here, and an async eviction would
      * overlap the NEXT query's timed region. */
    def release(): Unit = graft.ops.Stored.releaseAll(spark)

    // Untimed warmup: one full pass over EVERY query. First-touch costs
    // (parquet footer reads, whole-stage codegen compilation, C2 JIT of
    // interpreted higher-order-function eval loops, UDF classloading)
    // are 2-10× for expression-heavy queries (measured: q33 cold 37 s vs
    // warm 3.6 s on identical code), so a partial warmup makes whichever
    // heavy query runs first absorb them (round-2 verdict #6). A full
    // untimed pass means the timed passes below measure steady-state
    // throughput for every query — what a long-running cluster job sees.
    //
    // SPARK_GRAFT_ONLY=q33_...,q41_... restricts the run to a subset —
    // the edit-measure loop for single-query optimization.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.exists(n.startsWith)))
    names.foreach { n =>
      try materialize(n) catch { case _: Throwable => () }
      release()
    }
    spins += spinProbeMs(spinThreads) // after warmup
    var errors = ListMap.empty[String, String]
    // Timed passes, per-query value = min. The min of repeated runs is
    // the standard noise-robust estimator for a deterministic workload:
    // a query's true cost is its fastest observed run; any excess is
    // interference (GC pause, CPU contention from co-located processes,
    // page-cache miss). Round-3 showed exactly that failure mode —
    // identical code timed 10-30× slower late in a long run on a
    // contended host while early queries matched local runs.
    def timedPass(): Map[String, Double] = try names.map { name =>
      val t0 = System.nanoTime()
      val timed = try {
        materialize(name)
        name -> (System.nanoTime() - t0) / 1e9
      } catch {
        case e: Throwable =>
          errors += name -> Option(e.getMessage).getOrElse(e.getClass.getName).take(200)
          name -> -1.0
      }
      release() // isolation cost stays out of the measured window
      timed
    }.toMap finally spins += spinProbeMs(spinThreads) // after each timed pass
    // Anchor the detail/history artifacts to the repo root (nearest
    // ancestor of the launch cwd holding build.sbt), not the bare cwd —
    // `sbt runMain` and a forked JVM can disagree on cwd (round-13
    // advice #4). Resolved BEFORE the timed region because the
    // post-run retry gate below reads BENCH_HISTORY from here.
    val detailPath = sys.env.get("SPARK_GRAFT_DETAIL_PATH")
      .map(java.nio.file.Paths.get(_))
      .getOrElse {
        val cwd = java.nio.file.Paths.get(sys.props("user.dir")).toAbsolutePath
        var d = cwd
        while (d.getParent != null &&
            !java.nio.file.Files.exists(d.resolve("build.sbt")))
          d = d.getParent
        val root =
          if (java.nio.file.Files.exists(d.resolve("build.sbt"))) d else cwd
        root.resolve("BENCH_DETAIL.json")
      }

    val gc0 = gcMs()
    var passes = List(timedPass(), timedPass())
    // disagreement between the two passes is the contention signature —
    // buy one more sample rather than record a polluted min. 10%
    // mirrors the round-to-round agreement target: back-to-back full
    // runs landed 12% apart with thinly-spread drift that a 20%
    // trigger never caught. Compare only the queries that succeeded in
    // BOTH passes — a one-pass failure contributes 0 to one total and
    // its full time to the other, which could spuriously fire (or,
    // offsetting, mask) the disagreement check (round-9 advice).
    val (p1, p2) = (passes.head, passes(1))
    val inBoth = names.filter(n =>
      p1.getOrElse(n, -1.0) >= 0 && p2.getOrElse(n, -1.0) >= 0)
    val (t1, t2) = (inBoth.map(p1).sum, inBoth.map(p2).sum)
    if (t1 > 0 && t2 > 0 && math.abs(t1 - t2) / math.min(t1, t2) > 0.10)
      passes :+= timedPass()
    // History-aware bounded retry (round-15 verdict #1a, second
    // instrument): this host's co-tenant memory-bandwidth pressure is
    // invisible to loadavg and only partially visible to the spin
    // probe (the 2.27×-gate-breach artifact carried probes at just
    // 1.01-1.21× floor) — but the TREE'S OWN quiet floor in the
    // in-tree run history sees it directly. If the run's min-total
    // exceeds SPARK_GRAFT_RETRY_RATIO (default 1.25×) the best clean
    // same-sf same-registry history total, sleep one gate interval
    // (let the burst decay) and buy one more full pass, bounded by
    // SPARK_GRAFT_RUN_RETRIES (default 1). Per-query mins across ALL
    // passes are the result, so "keep the better artifact" is
    // automatic; the pre-retry total is recorded in the line
    // (`pre_retry_total`) so both totals stay on the record.
    def minTotal(ps: List[Map[String, Double]]): Double = names.map { n =>
      val ok = ps.map(_.getOrElse(n, -1.0)).filter(_ >= 0)
      if (ok.nonEmpty) ok.min else 0.0
    }.sum
    val histBest = historyBest(
      detailPath.resolveSibling("BENCH_HISTORY.jsonl"), sfDir, names.size,
      qsetHash(names), names.toSet == SparkEntry.queries.keySet, spinThreads)
    val retryRatio =
      sys.env.getOrElse("SPARK_GRAFT_RETRY_RATIO", "1.25").toDouble
    val maxRetries = sys.env.getOrElse("SPARK_GRAFT_RUN_RETRIES", "1").toInt
    var retried = 0
    var preRetryTotal = -1.0
    while (histBest > 0 && minTotal(passes) > retryRatio * histBest &&
        retried < maxRetries) {
      if (retried == 0) preRetryTotal = minTotal(passes)
      retried += 1
      Thread.sleep(gateSleepMs)
      passes :+= timedPass()
    }
    val gcSpent = gcMs() - gc0
    val results = names.map { n =>
      val ok = passes.map(_.getOrElse(n, -1.0)).filter(_ >= 0)
      n -> (if (ok.nonEmpty) ok.min else -1.0)
    }
    // a query that succeeded in ANY pass is not a failure
    errors = errors.filter { case (n, _) => results.toMap.getOrElse(n, -1.0) < 0 }
    // The driver records only the LAST ~2000 chars of output and parses
    // the JSON line out of that tail (BENCH_r04 came back `parsed:null`
    // when the line outgrew the window). renderLine is the compact
    // serializer; BenchLineSpec pins its size at the live registry.
    val loadEnd = loadAvgs()
    // Detail write is best-effort, but only for non-fatal errors, and
    // failing WARNS instead of swallowing: an OOM/LinkageError must
    // kill the run, and a full disk should at least say so.
    try java.nio.file.Files.write(
      detailPath,
      (renderDetail(results, sfDir, gcSpent, passes.size) + "\n")
        .getBytes("UTF-8"))
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"WARN Bench: could not write $detailPath: $e")
    }
    // append-only run history beside the detail file: BENCH_DETAIL is
    // overwritten per run, and round-14's forensics lost its two best
    // runs to exactly that — one summary line per run (epoch-stamped)
    // makes every same-tree series reconstructible after the fact
    val line = renderLine(results, errors, sfDir, loadStart, loadPregate,
      loadEnd(0), gated, gcSpent, passes.size, spins.toSeq,
      spinThreads, spinFloor, histBest, retried, preRetryTotal)
    // the history splice below assumes renderLine emits a bare JSON
    // object — fail loudly if that coupling ever breaks rather than
    // corrupting every appended record
    require(line.startsWith("{") && line.endsWith("}"),
      s"renderLine no longer emits a bare JSON object: ${line.take(40)}...")
    try java.nio.file.Files.write(
      detailPath.resolveSibling("BENCH_HISTORY.jsonl"),
      (s"""{"ts":${System.currentTimeMillis / 1000},""" + line.drop(1) + "\n")
        .getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)
    catch {
      case scala.util.control.NonFatal(e) =>
        System.err.println(s"WARN Bench: could not append history: $e")
    }
    println(line)
    spark.stop()
    if (errors.nonEmpty) sys.exit(1)
  }
}
