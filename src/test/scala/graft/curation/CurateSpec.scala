package graft.curation

import graft.SparkSpec
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

import scala.jdk.CollectionConverters._

/** End-to-end contracts for the composed curation pipeline: funnel
  * monotonicity, stage post-conditions on the actual written shards
  * (quality floor, decontamination, chunk coverage law, shard token
  * bounds), and bit-reproducibility of the full run.
  */
class CurateSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"
  private val budget = 4096L
  private val window = 64
  private val stride = 48


  /** The LM gate's doc set, recomputed: q125 scores over the quality-
    * passed frame, threshold = the pipeline's 2%-of-256-sample order
    * statistic (hashes taken from the engine — the quantile-cut wiring
    * is what this reference checks; q125's arithmetic has its own
    * oracle + fixture spec). */
  private def lmPassIds(qualityIds: Set[Long]): Set[Long] = {
    val qf = graft.Tables.documents(spark, sf).where("doc_id >= 10")
      .where(col("doc_id").isin(qualityIds.toSeq: _*))
    val scores = graft.queries.CurationOps.lmScored(qf)
      .select(col("doc_id"), col("lm_score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1))
    val hashes = qf.select(col("doc_id"), xxhash64(col("doc_id")).as("h"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val smap = scores.toMap
    val sample = scores.map(_._1).sortBy(hashes).take(256)
    val thr = sample.map(smap).sorted.take(math.max(1, (256 * 0.02).toInt)).max
    // unscoreable docs (< 2 non-empty tokens — no bigram to score) pass
    // the gate, mirroring the pipeline's left-join null pass-through
    val unscoreable = qf.select(col("doc_id")).collect().map(_.getLong(0)).toSet --
      scores.map(_._1)
    scores.collect { case (id, sc) if sc >= thr => id }.toSet ++ unscoreable
  }

  /** Independent driver-side recompute of stage 5b's semantic flags:
    * corpus vec_ids whose nearest eval-probe cosine clears the run's
    * default 0.30 threshold (vec_id == doc_id is the testdata seam). */
  private lazy val semFlaggedIds: Set[Long] = {
    val vecs = graft.Tables.embeddings(spark, sf)
      .selectExpr("vec_id", "transform(embedding, x -> cast(x as double)) v")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1).toArray).toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var i = 0; var d = 0.0; var na = 0.0; var nb = 0.0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    val probes = vecs.collect { case (id, v) if id < 10 => v }.toSeq
    vecs.collect {
      case (id, v) if id >= 10 && probes.exists(p => cos(v, p) >= 0.30) => id
    }.toSet
  }

  /** The default run, observed: its shard dir and report, the largest
    * physical-plan description Spark posted while it ran (the SQL
    * execution starts and AQE plan updates `Profile.Probe` reads), the
    * persistent RDDs it registered that are still registered after it
    * returns, and each job's (call site, description). A job's call site
    * is its result stage's name, as `Profile.Probe` reads it. */
  private lazy val observedA = {
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_a").toString
    val sc = spark.sparkContext
    val probe = new graft.Profile.Probe
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]
    val named = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (j.stageInfos.nonEmpty) jobs.add((j.stageInfos.maxBy(_.stageId).name,
          Option(j.properties).map(_.getProperty("spark.job.description")).orNull))
    }
    GraftListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(probe)
    sc.addSparkListener(named)
    val before = sc.getPersistentRDDs.keySet.toSet
    val r = try Curate.run(spark, sf, dir)
      finally {
        GraftListenerBridge.drainListenerBus(sc)
        sc.removeSparkListener(probe)
        sc.removeSparkListener(named)
      }
    (dir, r, probe.planDescMaxBytes, sc.getPersistentRDDs.keySet.toSet -- before,
      jobs.asScala.toSeq)
  }
  private lazy val outA = (observedA._1, observedA._2)

  test("the funnel only ever shrinks, and every stage count is populated") {
    val (_, r) = outA
    val funnel = Seq(r.nInput, r.nQuality, r.nLmPass, r.nExactDedup,
      r.nNearDedup, r.nMediaDedup, r.nDecontaminated, r.nSemClean,
      r.nRewritten, r.nSampled)
    assert(funnel === funnel.sorted.reverse, s"funnel grew somewhere: $r")
    assert(r.nInput > 0 && r.nSampled > 0 && r.nShards > 0 && r.nTokens > 0, r.toString)
    // chunking fans out, never filters: >= one chunk per non-empty doc
    assert(r.nChunks >= r.nSampled, s"chunking lost documents: $r")
  }

  test("the default funnel, chunk, shard and token counts are pinned at sf0.001") {
    val (_, r) = outA
    assert(Seq(r.nInput, r.nQuality, r.nLmPass, r.nExactDedup, r.nNearDedup,
        r.nMediaDedup, r.nDecontaminated, r.nSemClean, r.nRewritten, r.nThinned,
        r.nSampled) === Seq(490L, 375L, 368L, 368L, 353L, 348L, 345L, 321L, 321L, 321L, 220L),
      r.toString)
    assert((r.nChunks, r.nShards, r.nTokens) === ((366L, 20L, 14895L)), r.toString)
  }

  test("no plan description posted during a default run reaches 1 MB") {
    // a stage frame persisted on top of earlier persisted stages prints
    // every earlier cached plan inside its own; stored stages plan from
    // a LogicalRDD and print none of them
    val (_, _, planDescMax, _, _) = observedA
    assert(planDescMax > 0, "no SQL execution was observed")
    assert(planDescMax < (1L << 20), s"largest plan description: $planDescMax bytes")
  }

  test("the run leaves none of the RDDs it persisted or checkpointed registered") {
    val (_, _, _, left, _) = observedA
    assert(left.isEmpty, s"still registered: ${left.toSeq.sorted}")
  }

  test("every job that stores a Curate frame is described by its stage's name") {
    val (_, _, _, _, jobs) = observedA
    val stages = Seq("input", "quality", "lm", "exact", "near", "media", "decontam",
      "semdecontam", "rewrite", "thin", "sample", "chunk").map("curate " + _)
    val stores = jobs.filter(_._1.startsWith("localCheckpoint at Curate.scala"))
    assert(stores.nonEmpty, jobs.mkString("\n"))
    val unnamed = stores.filterNot { case (_, d) => stages.contains(d) }
    assert(unnamed.isEmpty, unnamed.mkString("stores without a stage name:\n", "\n", ""))
    // the default policies store every stage but the cluster-quota thinning
    assert(stores.map(_._2).toSet === stages.filter(_ != "curate thin").toSet)
    // and the run restores the caller's description
    assert(spark.sparkContext.getLocalProperty("spark.job.description") === null)
  }

  test("every written doc passes the quality floor and is uncontaminated") {
    val (dir, _) = outA
    val written = spark.read.parquet(s"$dir/shards")
    val ids = written.select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet

    val passing = graft.queries.CurationOps.qualityScored(spark, sf)
      .filter(col("score") >= 0.05).select(col("doc_id"))
      .collect().map(_.getLong(0)).toSet
    assert(ids.subsetOf(passing), "a written doc failed the quality gate")

    // the LM gate narrows further: every written doc survives the
    // 2%-tail quantile cut under the LM trained on the quality-passed
    // corpus (run's default)
    val lmPassing = lmPassIds(passing.filter(_ >= 10))
    assert(ids.subsetOf(lmPassing), "a written doc failed the LM typicality gate")

    // recompute contamination independently (interpreted HOF formulation,
    // not the pipeline's native ngrams): shared 5-gram with docs 0-9
    val probe = graft.Tables.documents(spark, sf).where("doc_id < 10")
      .selectExpr("explode(array_distinct(transform(sequence(1, size(filter(split(lower(text), ' '), t -> t <> '')) - 4), " +
        "i -> concat_ws(' ', slice(filter(split(lower(text), ' '), t -> t <> ''), i, 5))))) g")
      .distinct().collect().map(_.getString(0)).toSet
    val contaminated = graft.Tables.documents(spark, sf).where("doc_id >= 10")
      .selectExpr("doc_id", "array_distinct(transform(sequence(1, size(filter(split(lower(text), ' '), t -> t <> '')) - 4), " +
        "i -> concat_ws(' ', slice(filter(split(lower(text), ' '), t -> t <> ''), i, 5)))) gs")
      .where("size(filter(split(lower(text), ' '), t -> t <> '')) >= 5")
      .collect().filter(r => r.getSeq[String](1).exists(probe.contains)).map(_.getLong(0)).toSet
    assert(ids.intersect(contaminated).isEmpty, "a contaminated doc was written")
    assert(ids.forall(_ >= 10), "an eval doc leaked into the corpus")

    // stage 5b: the SEMANTIC pass — no written doc's embedding sits
    // within the flag threshold of any eval probe (independent
    // driver-side cosine recompute, not the pipeline's kernel)
    assert(ids.intersect(semFlaggedIds).isEmpty,
      "a semantically contaminated doc was written")
  }

  test("chunk coverage law: every written doc's chunks form exactly q100's stride grid") {
    val (dir, _) = outA
    // independent recount of each written doc's tokens: the pipeline
    // chunks the REWRITTEN corpus (stage 6), so the reference recount
    // applies a sequential driver-side keep-first block dedup (16-token
    // blocks, global (doc,idx) order — the q123 contract, reimplemented
    // imperatively) over stage 6's INPUT set. That set is reconstructed
    // with the pipeline's own gate helpers — each gate's semantics has
    // its own independent test; THIS test's target is the chunk-grid
    // law downstream of the rewrite.
    val rawToks = graft.Tables.documents(spark, sf).where("doc_id >= 10")
      .selectExpr("doc_id", "filter(split(lower(text), ' '), t -> t <> '') ts")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1).toVector)
      .toMap
    val scores = graft.queries.CurationOps.qualityScored(spark, sf)
      .select(col("doc_id"), col("score"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val qIds = rawToks.keySet.filter(id => scores(id) >= 0.05)
    val lmIds = lmPassIds(qIds)
    // exact dedup: min doc_id per identical-text group
    val textOf = graft.Tables.documents(spark, sf)
      .selectExpr("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val exactIds = lmIds.groupBy(textOf).values.map(_.min).toSet
    // near-dup prune: q32 pairs + lose-to-higher-score
    val pairs = graft.queries.LlmOps.q32NearDupPairs.fn(spark, sf)
      .select(col("id_a"), col("id_b")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    // the pipeline's loser rule joins the pair list against the
    // eval-filtered score table: `other` may be any non-eval doc with
    // a score, even one an earlier gate already dropped
    val losers = pairs.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .collect { case (me, other)
        if exactIds(me) && other >= 10 && scores.contains(other) &&
          (scores(other) > scores(me) ||
            (scores(other) == scores(me) && other < me)) => me }.toSet
    val nearIds = exactIds -- losers
    // stage 4b: multimodal dedup — losers from the same factored
    // fingerprint seams the pipeline consumes (each seam's SEMANTICS
    // has its own oracle-gated query, q128-q132; this test targets
    // the funnel splice). Corpus-wide graphs, per the stage-4
    // convention: three near-dup pair graphs drop every id_b, and the
    // audio/video exact groups apply the keep-min-doc rule,
    // reconstructed imperatively here.
    val P = graft.queries.PipelineOps
    def pairLosers(pairs: org.apache.spark.sql.DataFrame): Set[Long] =
      pairs.select(col("id_b")).collect().map(_.getLong(0)).toSet
    val nearLosers = pairLosers(
        P.perceptualDupPairs(spark, sf, P.nonEmptyDocCount(spark, sf))) ++
      pairLosers(P.videoNearDupPairs(spark, sf)) ++
      pairLosers(P.audioNearDupPairs(spark, sf))
    def groupLosers(fp: Array[(Long, String)]): Set[Long] =
      fp.map(_._1).toSet -- fp.groupBy(_._2).map { case (_, g) => g.map(_._1).min }
    val aLosers = groupLosers(P.audioFp(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))))
    val vLosers = groupLosers(P.videoFp(spark, sf)
      .collect().map(r => (r.getLong(0), r.getString(1))))
    val mediaIds = nearIds -- nearLosers -- aLosers -- vLosers
    assert(outA._2.nMediaDedup === mediaIds.size.toLong,
      s"nMediaDedup=${outA._2.nMediaDedup} != reconstructed ${mediaIds.size}")
    // decontamination (the independent 5-gram recompute above)
    val probe = graft.Tables.documents(spark, sf).where("doc_id < 10")
      .selectExpr("explode(array_distinct(transform(sequence(1, size(filter(split(lower(text), ' '), t -> t <> '')) - 4), " +
        "i -> concat_ws(' ', slice(filter(split(lower(text), ' '), t -> t <> ''), i, 5))))) g")
      .distinct().collect().map(_.getString(0)).toSet
    val cleanIds = mediaIds.filter { id =>
      val ts = rawToks(id)
      ts.length < 5 || !ts.sliding(5).exists(w => probe(w.mkString(" ")))
    }
    // stage 5b: semantic decontamination narrows the rewrite's input —
    // the keep-first seen-set below depends on exactly which docs
    // participate, so the reference must apply the same flag set
    val semCleanIds = cleanIds -- semFlaggedIds
    // the funnel's stage-5b count must equal this independent
    // reconstruction exactly — not just bound the written set
    assert(outA._2.nSemClean === semCleanIds.size.toLong,
      s"nSemClean=${outA._2.nSemClean} != reconstructed ${semCleanIds.size}")
    // sequential keep-first block rewrite over the clean set
    val seen = scala.collection.mutable.Set.empty[String]
    val nByDoc = semCleanIds.toSeq.sorted.map { id =>
      val kept = rawToks(id).grouped(16).filter { b =>
        val k = b.mkString(" "); if (seen(k)) false else { seen += k; true }
      }.flatten.toVector
      id -> kept.size
    }.toMap
    val chunks = spark.read.parquet(s"$dir/shards")
      .select(col("doc_id"), col("chunk_start"), col("nc"), col("chunk_text"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
    chunks.groupBy(_._1).foreach { case (docId, rows) =>
      val n = nByDoc(docId)
      val starts = rows.map(_._2).sorted.toSeq
      assert(starts === (0 until n by stride).map(_.toLong),
        s"doc $docId: chunk grid diverged from sequence(0, ${n - 1}, $stride)")
      rows.foreach { case (_, start, nc, text) =>
        assert(nc === math.min(window.toLong, n - start),
          s"doc $docId chunk $start: clip law violated")
        // the chunk text really holds nc tokens (slice ≡ count)
        assert(text.split(" ").count(_.nonEmpty) === nc,
          s"doc $docId chunk $start: chunk_text token count != nc")
      }
    }
  }

  test("every shard respects the token budget up to one straddling chunk") {
    val (dir, _) = outA
    val shards = spark.read.parquet(s"$dir/shards")
      .groupBy(col("source"), col("shard_id").cast("long").as("shard_id"))
      .agg(sum(col("nc")).cast("long").as("tok"))
      .collect()
    // chunks are <= window tokens, so the exclusive-prefix packing law
    // bounds every shard by budget + (window - 1) — the tight fill
    // ragged-document packing could not guarantee
    shards.foreach { r =>
      assert(r.getLong(2) < budget + window,
        s"shard ${r.get(0)}/${r.get(1)} exceeds budget beyond a chunk straddler: $r")
    }
    // and every shard except possibly each source's last is FULL past
    // the budget line minus one chunk (no pathological underfill)
    val bySource = shards.groupBy(_.getString(0))
    bySource.foreach { case (src, rs) =>
      val lastShard = rs.map(_.getLong(1)).max
      rs.filter(_.getLong(1) != lastShard).foreach { r =>
        assert(r.getLong(2) >= budget - window + 1,
          s"non-final shard $src/${r.getLong(1)} underfilled: ${r.getLong(2)}")
      }
    }
  }

  test("the pipeline is bit-reproducible: a second run writes identical shard assignments") {
    val (dirA, _) = outA
    val dirB = java.nio.file.Files.createTempDirectory("graft_curate_b").toString
    Curate.run(spark, sf, dirB)
    def snapshot(d: String) = spark.read.parquet(s"$d/shards")
      .select(col("source"), col("shard_id").cast("long"), col("doc_id"),
        col("chunk_start"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sorted.toSeq
    assert(snapshot(dirA) === snapshot(dirB))
  }

  test("the funnel and the written shards are invariant under shuffle partitions and AQE") {
    // stored stages declare the hash partitioning their job ran with;
    // a declaration that did not match where the rows are would join
    // wrong rows, so the run must not depend on the partition count or
    // on AQE's final plans
    val (dirA, rA) = outA
    def written(d: String) = spark.read.parquet(s"$d/shards")
      .select(col("source"), col("shard_id").cast("long"), col("doc_id"),
        col("chunk_start"), col("nc"), col("lang"), col("chunk_text"))
      .collect().map(_.toSeq.mkString("\u0001")).sorted.toSeq
    val base = written(dirA)
    Seq("spark.sql.shuffle.partitions" -> "7", "spark.sql.adaptive.enabled" -> "false")
      .foreach { case (k, v) =>
        val dir = java.nio.file.Files.createTempDirectory("graft_curate_conf").toString
        val r = withConf(k -> v)(Curate.run(spark, sf, dir))
        assert(r === rA, s"funnel changed under $k=$v")
        assert(written(dir) === base, s"written shards changed under $k=$v")
      }
  }

  test("shard partitioning prunes: a (source, shard_id) read lists one directory") {
    val (dir, _) = outA
    val one = spark.read.parquet(s"$dir/shards")
      .select(col("source"), col("shard_id").cast("long")).distinct().collect().head
    val pruned = spark.read.parquet(s"$dir/shards")
      .filter(col("source") === one.getString(0) && col("shard_id") === one.getLong(1))
    val scan = pruned.queryExecution.executedPlan.toString
    assert(pruned.count() > 0)
    assert(scan.contains("PartitionFilters"), scan)
  }

  test("stage-7 policy cuts: equalize and temperature are the exact integer rules") {
    import spark.implicits._
    // n = 100/400/10000 → isqrt weights 10/20/100; min source a keeps
    // rate 1 under BOTH policies, and every cut is hand-computable
    val per = Seq(("a", 100L), ("b", 400L), ("c", 10000L))
      .toDF("source", "n_tokens")
    def cuts(p: Curate.MixturePolicy) = Curate.mixtureCuts(per, p)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // equalize: floor(min/n · 65536)
    assert(cuts(Curate.MixturePolicy.Equalize) ===
      Map("a" -> 65536L, "b" -> 16384L, "c" -> 655L))
    // temperature: (65536·w·n_min) div (n·w_min) = 65536·sqrt(min/n)
    // exactly on these perfect squares
    assert(cuts(Curate.MixturePolicy.Temperature) ===
      Map("a" -> 65536L, "b" -> 32768L, "c" -> 6553L))
    // non-square sweep: temperature cut is floor(65536·w·n_min/(n·w_min))
    // and always >= the equalize cut (sqrt of a ratio <= 1 dominates it)
    val per2 = Seq(("a", 7L), ("b", 123L), ("c", 99991L))
      .toDF("source", "n_tokens")
    def isq(n: Long) = math.sqrt(n.toDouble).toLong // exact at this scale
    val eq2 = Curate.mixtureCuts(per2, Curate.MixturePolicy.Equalize)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val t2 = Curate.mixtureCuts(per2, Curate.MixturePolicy.Temperature)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    for ((s, n) <- Seq(("a", 7L), ("b", 123L), ("c", 99991L))) {
      assert(t2(s) === 65536L * isq(n) * 7L / (n * isq(7L)), s)
      assert(t2(s) >= eq2(s), s"temperature cut below equalize for $s")
    }
    // saturation edge (ADVICE r19): with a single-digit min source the
    // raw rational exceeds 65536 (n={3,4}: 65536·2·3/(4·1) = 98304) —
    // the clamp keeps the documented cut ∈ [0, 65536] invariant, and
    // both values mean keep-everything under `bucket < cut`
    val per3 = Seq(("a", 3L), ("b", 4L)).toDF("source", "n_tokens")
    val t3 = Curate.mixtureCuts(per3, Curate.MixturePolicy.Temperature)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(t3 === Map("a" -> 65536L, "b" -> 65536L))
  }

  test("temperature policy: stages 1-6 invariant, equalize kept set is a subset, shard laws hold") {
    val (dirA, rA) = outA
    val dirT = java.nio.file.Files.createTempDirectory("graft_curate_t").toString
    val rT = Curate.run(spark, sf, dirT,
      mixture = Curate.MixturePolicy.Temperature)
    // the policy only exists at stage 7: every upstream funnel count
    // is bit-equal to the default run's
    assert(Seq(rT.nInput, rT.nQuality, rT.nLmPass, rT.nExactDedup,
        rT.nNearDedup, rT.nMediaDedup, rT.nDecontaminated, rT.nSemClean,
        rT.nRewritten) ===
      Seq(rA.nInput, rA.nQuality, rA.nLmPass, rA.nExactDedup,
        rA.nNearDedup, rA.nMediaDedup, rA.nDecontaminated, rA.nSemClean,
        rA.nRewritten))
    // sqrt(min/n) >= min/n pointwise ⇒ every equalize-kept doc is
    // temperature-kept and the sampled stage can only grow
    def kept(d: String): Set[(String, Long)] = spark.read.parquet(s"$d/shards")
      .select(col("source"), col("doc_id")).distinct()
      .collect().map(r => (r.getString(0), r.getLong(1))).toSet
    val keptA = kept(dirA); val keptT = kept(dirT)
    assert(keptA.subsetOf(keptT),
      s"equalize kept ${(keptA -- keptT).take(5)} that temperature dropped")
    assert(rT.nSampled >= rA.nSampled, s"${rT.nSampled} < ${rA.nSampled}")
    // and the policy-independent shard laws hold on the T artifacts
    val shards = spark.read.parquet(s"$dirT/shards")
      .groupBy(col("source"), col("shard_id").cast("long").as("shard_id"))
      .agg(sum(col("nc")).cast("long").as("tok"))
      .collect()
    shards.foreach { r =>
      assert(r.getLong(2) < budget + window,
        s"T-run shard ${r.get(0)}/${r.get(1)} exceeds budget beyond a straddler")
    }
  }

  test("stage-1 SourceDeciles policy: per-source kept counts are the exact quantile law") {
    val dirD = java.nio.file.Files.createTempDirectory("graft_curate_d").toString
    val k = 8
    val rD = Curate.run(spark, sf, dirD,
      qualityPolicy = Curate.QualityPolicy.SourceDeciles(k))
    // the gate keeps rk <= ceil(k·n_s/10) per source — recompute n_s
    // (post-carveout docs with >= 1 token, q141's universe) and pin
    val perSource = graft.Tables.documents(spark, sf)
      .where("doc_id >= 10")
      .selectExpr("source",
        "size(filter(split(lower(text), ' '), t -> t <> '')) as n")
      .where("n >= 1")
      .groupBy("source").count().collect()
      .map(r => r.getString(0) -> r.getLong(1))
    val expectedKept = perSource.map { case (_, n) => (k * n + 9) / 10 }.sum
    assert(rD.nQuality === expectedKept,
      s"decile gate kept ${rD.nQuality}, quantile law says $expectedKept")
    // funnel still monotone and productive under the policy
    val funnel = Seq(rD.nInput, rD.nQuality, rD.nLmPass, rD.nExactDedup,
      rD.nNearDedup, rD.nMediaDedup, rD.nDecontaminated, rD.nSemClean,
      rD.nRewritten, rD.nSampled)
    assert(funnel === funnel.sorted.reverse, s"funnel grew somewhere: $rD")
    assert(rD.nShards > 0 && rD.nTokens > 0, rD.toString)
    intercept[IllegalArgumentException] {
      Curate.run(spark, sf, dirD, qualityPolicy = Curate.QualityPolicy.SourceDeciles(11))
    }
  }

  test("stage-1 TrainedDeciles policy: kept count is the exact global quantile of an independently trained model") {
    val dirT = java.nio.file.Files.createTempDirectory("graft_curate_tm").toString
    val k = 8
    val rT = Curate.run(spark, sf, dirT,
      qualityPolicy = Curate.QualityPolicy.TrainedDeciles(k))
    // INDEPENDENT trainer: the documented BigInt GD over the collected
    // post-carveout design matrix (the QualityTrainSpec reference,
    // reproduced here so this spec shares no engine code path)
    val Qb = BigInt(65536); val Fb = BigInt(256)
    val fx = graft.queries.CurationOps.gdTrainFrame(spark, sf, 10L).collect()
      .map(r => (r.getLong(0), BigInt(r.getLong(1)),
        (2 to 6).map(i => BigInt(r.getLong(i)))))
    var w: Seq[BigInt] = Seq.fill(5)(BigInt(0))
    val den = BigInt(fx.length) * Qb
    for (_ <- 1 to 3) {
      val g = Array.fill(5)(BigInt(0))
      for ((_, y, x) <- fx) {
        val z = (0 until 5).map(j => w(j) * x(j)).sum
        val e = ((z + 2 * Qb) / 4).max(0).min(Qb) - Qb * y
        for (j <- 0 until 5) g(j) += e * x(j)
      }
      w = (0 until 5).map(j => w(j) - ((g(j) + Fb * den) / den - Fb))
    }
    // global decile law on the learned score: rank by (z desc, doc_id)
    val zs = fx.map { case (id, _, x) =>
      (id, (0 until 5).map(j => w(j) * x(j)).sum) }
    val n = zs.length
    val expectedKept = zs.sortBy { case (id, z) => (-z, id) }.zipWithIndex
      .count { case (_, i) => i.toLong * 10 / n < k }
    assert(rT.nQuality === expectedKept.toLong,
      s"trained gate kept ${rT.nQuality}, independent model says $expectedKept")
    // funnel still monotone and productive under the policy
    val funnel = Seq(rT.nInput, rT.nQuality, rT.nLmPass, rT.nExactDedup,
      rT.nNearDedup, rT.nMediaDedup, rT.nDecontaminated, rT.nSemClean,
      rT.nRewritten, rT.nSampled)
    assert(funnel === funnel.sorted.reverse, s"funnel grew somewhere: $rT")
    assert(rT.nShards > 0 && rT.nTokens > 0, rT.toString)
    intercept[IllegalArgumentException] {
      Curate.run(spark, sf, dirT,
        qualityPolicy = Curate.QualityPolicy.TrainedDeciles(0))
    }
  }

  test("stage-6b ClusterQuota policy: stages 1-6 invariant, rejected docs never written, default is identity") {
    val (_, rA) = outA
    // default path adds no thinning: stage 6b is the identity and no
    // extra action/scan runs (nThinned simply echoes nRewritten)
    assert(rA.nThinned === rA.nRewritten)
    val dirS = java.nio.file.Files.createTempDirectory("graft_curate_s").toString
    val rS = Curate.run(spark, sf, dirS,
      samplingPolicy = Curate.SamplingPolicy.ClusterQuota)
    // the policy only exists at stage 6b: every upstream funnel count
    // is bit-equal to the default run's
    assert(Seq(rS.nInput, rS.nQuality, rS.nLmPass, rS.nExactDedup,
        rS.nNearDedup, rS.nMediaDedup, rS.nDecontaminated, rS.nSemClean,
        rS.nRewritten) ===
      Seq(rA.nInput, rA.nQuality, rA.nLmPass, rA.nExactDedup,
        rA.nNearDedup, rA.nMediaDedup, rA.nDecontaminated, rA.nSemClean,
        rA.nRewritten))
    // wiring: stage 6b consumes exactly q140's corpus-wide verdict —
    // no doc on the rejected side (rk > quota) is ever written, and
    // the policy actually bit at this SF (guards a silent identity)
    val rejected = graft.queries.CurationOps.clusterQuotaRanked(spark, sf)
      .filter(col("rk") > col("quota")).select(col("vec_id"))
      .collect().map(_.getLong(0)).toSet
    assert(rejected.nonEmpty, "testdata produced no rejectable cluster member")
    val written = spark.read.parquet(s"$dirS/shards")
      .select(col("doc_id")).distinct().collect().map(_.getLong(0)).toSet
    assert(written.intersect(rejected).isEmpty,
      "a cluster-quota-rejected doc reached the shards")
    assert(rS.nThinned <= rS.nRewritten)
    assert(rS.nShards > 0 && rS.nTokens > 0, rS.toString)
  }

  test("chunk parameters are validated up front") {
    val dir = java.nio.file.Files.createTempDirectory("graft_curate_bad").toString
    intercept[IllegalArgumentException] {
      Curate.run(spark, sf, dir, chunkWindow = 32, chunkStride = 48)
    }
    intercept[IllegalArgumentException] {
      Curate.run(spark, sf, dir, tokenBudget = 32L, chunkWindow = 64)
    }
  }
}
