package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Structured Streaming renderings of the crawler's continuous dataflow
  * (SURVEY.md §2.9): the reference runs a RabbitMQ/Redis micro-service
  * loop — queue consumption (queue_api.py:27-39), a Redis seen-URL set
  * (redis_api.py:18-28), at-least-once ack, and a DLQ — which maps onto
  * Spark as micro-batch streams with checkpointed state.
  *
  * Batch/stream symmetry is the design rule: every transform here is the
  * streaming twin of a batch op already in the oracle-checked query set
  * (dropDuplicates ≡ the Crawl seen-set anti-join; the windowed count ≡
  * q24's hourly aggregation), so correctness is anchored by the batch
  * oracle and the specs assert stream-result == batch-result on the same
  * rows.
  *
  * Scale notes: dedup and window state live in the HDFS-backed state
  * store, partitioned by key hash — state ops shuffle once on the key,
  * the same shuffle shape as the batch twin. Watermarks bound state: the
  * unbounded variants mirror the reference exactly (its Redis set also
  * never expires), the watermarked variants are the production
  * configuration.
  */
object Streams {

  /** A URL sighting flowing through the filter service (parser →
    * check_dups_links → filter, .env.example:9-11).
    */
  final case class UrlEvent(url: String, ts: java.sql.Timestamp)

  /** The filter service's Redis SISMEMBER/SADD check-and-insert
    * (redis_api.py:18-28) as stateful stream dedup: first sighting of a
    * URL passes, every later one is dropped. Unbounded state — exactly
    * the reference's semantics (its Redis set never expires either).
    */
  def dedupUrls(urls: DataFrame): DataFrame =
    urls.dropDuplicates("url")

  /** First-seen tracking with CUSTOM state (flatMapGroupsWithState):
    * emits each URL once on first sighting — like [[dedupUrls]] — but
    * keeps a per-URL hit counter in the state store, the stream twin of
    * the crawl ledger's visit bookkeeping (db_api.py:30-37). Update
    * output mode; NoTimeout mirrors the reference's non-expiring set.
    */
  def firstSeen(urls: Dataset[UrlEvent]): Dataset[UrlEvent] = {
    import urls.sparkSession.implicits._
    urls
      .groupByKey(_.url)
      .flatMapGroupsWithState[Long, UrlEvent](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (url: String, events: Iterator[UrlEvent], state: GroupState[Long]) =>
          val sightings = events.toSeq
          val prior = state.getOption.getOrElse(0L)
          state.update(prior + sightings.size)
          if (prior == 0L) sightings.sortBy(_.ts.getTime).headOption.iterator
          else Iterator.empty
      }
  }

  /** Per-URL crawl bookkeeping with mapGroupsWithState — the
    * one-output-row-per-group stateful surface (vs [[firstSeen]]'s
    * flatMap variant): every micro-batch emits each touched URL's
    * CURRENT ledger row (total sightings, first/last seen), the
    * streaming rendering of the crawl ledger's upsert
    * (db_api.py:30-37's insert + the TODO'd visit counter at
    * fetcher main.py:113). Update output mode; state is one small row
    * per URL, hash-partitioned on the key like every stateful op here.
    */
  final case class UrlLedger(url: String, sightings: Long,
      firstSeen: java.sql.Timestamp, lastSeen: java.sql.Timestamp)

  def urlLedger(urls: Dataset[UrlEvent]): Dataset[UrlLedger] = {
    import urls.sparkSession.implicits._
    urls
      .groupByKey(_.url)
      .mapGroupsWithState[UrlLedger, UrlLedger](GroupStateTimeout.NoTimeout) {
        (url: String, events: Iterator[UrlEvent], state: GroupState[UrlLedger]) =>
          val batch = events.toSeq
          val tsMin = batch.map(_.ts.getTime).min
          val tsMax = batch.map(_.ts.getTime).max
          val next = state.getOption match {
            case Some(prev) => UrlLedger(url, prev.sightings + batch.size,
              new java.sql.Timestamp(math.min(prev.firstSeen.getTime, tsMin)),
              new java.sql.Timestamp(math.max(prev.lastSeen.getTime, tsMax)))
            case None => UrlLedger(url, batch.size.toLong,
              new java.sql.Timestamp(tsMin), new java.sql.Timestamp(tsMax))
          }
          state.update(next)
          next
      }
  }

  /** A distinct (gram-hash, ingest-batch) sighting — the unit the
    * novelty curve counts (q96/q98; caller pre-distincts per batch and
    * pre-hashes with `xxhash64`, the same key reduction q98 uses).
    */
  final case class GramEvent(gh: Long, batch: Long)

  final case class GramNovelty(gh: Long, batch: Long, firstBatch: Long,
      isNew: Boolean)

  /** Streaming twin of q98's incremental gram-state novelty: the
    * gram→first_batch table lives in the STATE STORE (one long per
    * gram, hash-partitioned on the gram key — the same join shape as
    * q98's probe, incremental across micro-batches instead of rounds).
    * Each sighting emits whether its batch is the gram's first; the
    * per-batch novelty curve is then a plain aggregation of the
    * emitted events (n_grams = sightings, n_new = first-sightings),
    * which StreamingSpec pins equal to batch q96 on the same corpus.
    * Events for several ingest batches may share one micro-batch —
    * within a group they are processed in batch order.
    *
    * ACROSS micro-batches the state MIN-MERGES: if a lower ingest
    * batch arrives after a higher one was recorded as first (late
    * data), the state drops to the min, the late sighting emits
    * isNew=true, and a CORRECTION row (gh, prevFirst, isNew=false) is
    * emitted for the batch previously credited — so a sink that
    * upserts by (gh, batch), the Update-output-mode contract, converges
    * to exactly batch q96's COUNTS (n_grams per batch, n_new per batch)
    * even under out-of-order delivery. Precision: only the superseded
    * first row is re-emitted; the `firstBatch` ATTRIBUTE on a gram's
    * other previously-emitted rows is not retro-updated (isNew on them
    * was and stays false, so counts are unaffected) — a consumer that
    * reads firstBatch itself should take min(firstBatch) per gh.
    * With in-order arrival no corrections ever fire.
    */
  def noveltyTracker(grams: Dataset[GramEvent]): Dataset[GramNovelty] = {
    import grams.sparkSession.implicits._
    grams
      .groupByKey(_.gh)
      .flatMapGroupsWithState[Long, GramNovelty](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (gh: Long, events: Iterator[GramEvent], state: GroupState[Long]) =>
          val evs = events.toSeq.sortBy(_.batch)
          val prev = state.getOption
          val first = prev.fold(evs.head.batch)(math.min(_, evs.head.batch))
          if (!prev.contains(first)) state.update(first)
          val corrections = prev match {
            case Some(p) if first < p =>
              Iterator.single(GramNovelty(gh, p, first, isNew = false))
            case _ => Iterator.empty
          }
          corrections ++
            evs.iterator.map(e => GramNovelty(gh, e.batch, first, e.batch == first))
      }
  }

  /** One 16-token block instance (q123's unit), pre-hashed with the
    * q98 key reduction: `bh = xxhash64(block text)`, position =
    * (docId, bi). */
  final case class BlockEvent(bh: Long, docId: Long, bi: Long)

  final case class BlockVerdict(bh: Long, docId: Long, bi: Long,
      kept: Boolean)

  /** Streaming twin of q123's corpus-wide keep-first block dedup: the
    * block-hash → canonical-instance table lives in the STATE STORE
    * (one long per distinct block, hash-partitioned on the block key).
    * Each instance emits whether it IS the canonical one; a sink that
    * upserts by (docId, bi) and keeps `kept` rows reconstructs exactly
    * the q123 rewrite as blocks arrive.
    *
    * Canonical = min (docId, bi), packed as q101's ord encoding
    * (docId·2^20 + bi — same caps, loudly enforced), min-merged across
    * micro-batches exactly like [[noveltyTracker]]'s first-batch state:
    * a late-arriving LOWER instance re-claims the block, emits
    * kept=true, and a correction row (kept=false) fires for the
    * superseded claimant — so the upserted view converges to batch
    * q123 under out-of-order delivery, and with in-order arrival no
    * corrections ever fire (StreamingSpec pins both).
    */
  def blockDeduper(blocks: Dataset[BlockEvent]): Dataset[BlockVerdict] = {
    import blocks.sparkSession.implicits._
    val biCap = 1L << 20
    def ord(e: BlockEvent): Long = {
      require(e.bi >= 0 && e.bi < biCap && e.docId >= 0 && e.docId < (1L << 43),
        s"blockDeduper: (docId=${e.docId}, bi=${e.bi}) outside the ord-encoding caps")
      e.docId * biCap + e.bi
    }
    blocks
      .groupByKey(_.bh)
      .flatMapGroupsWithState[Long, BlockVerdict](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (bh: Long, events: Iterator[BlockEvent], state: GroupState[Long]) =>
          val evs = events.toSeq.sortBy(ord)
          val prev = state.getOption
          val first = prev.fold(ord(evs.head))(math.min(_, ord(evs.head)))
          if (!prev.contains(first)) state.update(first)
          val corrections = prev match {
            case Some(p) if first < p =>
              Iterator.single(
                BlockVerdict(bh, p / biCap, p % biCap, kept = false))
            case _ => Iterator.empty
          }
          corrections ++
            evs.iterator.map(e => BlockVerdict(bh, e.docId, e.bi, ord(e) == first))
      }
  }

  /** One decoded perceptual fingerprint (q128's unit): the centered
    * integer band vector as exact doubles (PipelineOps.perceptualFp's
    * `c` column), with its corpus-aware intensity block. One event per
    * media item (ids unique by contract, like BlockEvent instances). */
  final case class MediaFpEvent(mediaId: Long, blk: Long, c: Array[Double])

  final case class MediaMatch(idA: Long, idB: Long, cosine: Double)

  /** Streaming twin of q128's blocked perceptual dedup: per intensity
    * block, the fingerprints seen so far live in the STATE STORE;
    * each arriving image is compared against its block's state with
    * the SAME arithmetic as the batch plan (all values exact integers
    * in double, left-to-right dot fold ≡ the native kernel — cosines
    * are bit-identical) and emits one match row per qualifying pair.
    *
    * Order-insensitive BY CONSTRUCTION, no corrections needed: an
    * unordered pair is emitted exactly once — when its second member
    * arrives — whatever the arrival order or micro-batch split, so the
    * collected match set converges to exactly the block-complete pair
    * set (StreamingSpec pins split-invariance and an out-of-order
    * replay). Zero-norm fingerprints never enter state and never match
    * (the batch plan's nrm > 0 filter). Within one micro-batch a
    * block's events are processed in mediaId order, pairing against
    * both the state and the earlier events of the same batch.
    *
    * STATE CONTRACT (round 15): state per block is EXACTLY one
    * fingerprint per distinct non-zero-norm media id — never more,
    * whatever duplication the stream carries (StreamingSpec asserts
    * the bound behaviorally: a probe event emits one match per
    * distinct prior id, not per delivery). So state size ≤ block
    * population × ~150 B, with the EXPECTED population governed by
    * q128's corpus-aware W dial. `NoTimeout` is deliberate: a
    * fingerprint must stay matchable forever for exactly-once pair
    * emission to hold — eviction would silently drop future pairs, so
    * a long-running deployment bounds state by RE-BLOCKING instead
    * (restart the query on a narrower W epoch), the same valve the
    * batch side dials. The batch side's rank cap (subBlockRanks) has
    * no online analog — a row's rank depends on the corpus AFTER it —
    * so the twin implements the UNCAPPED within-block semantics and
    * equals batch q128 exactly whenever every block's population is
    * ≤ subBlockRanks (the StreamingSpec corpora; at larger populations
    * the batch cap drops far-rank pairs the stream keeps — the stream
    * is a superset, never a miss).
    *
    * Per-event cost is O(|block|) dots — inherent to blocked matching
    * — but membership dedup is O(1) (hash set, not a Seq scan) and
    * every stored norm is computed ONCE per batch, not once per pair.
    */
  def mediaDupMatcher(fps: Dataset[MediaFpEvent],
      threshold: Double = 0.95): Dataset[MediaMatch] = {
    import fps.sparkSession.implicits._
    fps
      .groupByKey(_.blk)
      .flatMapGroupsWithState[Seq[(Long, Array[Double])], MediaMatch](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (_: Long, events: Iterator[MediaFpEvent],
            state: GroupState[Seq[(Long, Array[Double])]]) =>
          def dotd(a: Array[Double], b: Array[Double]): Double = {
            var s = 0.0; var i = 0
            while (i < a.length) { s += a(i) * b(i); i += 1 }
            s
          }
          // state decodes once per batch into (id, c, norm) with an
          // O(1)-membership id set; insertion order is preserved so
          // emission order stays replay-deterministic
          val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, Array[Double], Double)]
          val seenIds = scala.collection.mutable.HashSet.empty[Long]
          state.getOption.getOrElse(Seq.empty).foreach { case (id, c0) =>
            seen += ((id, c0, math.sqrt(dotd(c0, c0)))); seenIds += id
          }
          val out = scala.collection.mutable.ArrayBuffer.empty[MediaMatch]
          events.toSeq.sortBy(_.mediaId).foreach { e =>
            val ne = math.sqrt(dotd(e.c, e.c))
            if (ne > 0 && !seenIds.contains(e.mediaId)) {
              seen.foreach { case (id, c0, n0) =>
                val cos = dotd(e.c, c0) / (ne * n0)
                if (cos >= threshold)
                  out += MediaMatch(math.min(id, e.mediaId),
                    math.max(id, e.mediaId), cos)
              }
              seen += ((e.mediaId, e.c, ne)); seenIds += e.mediaId
            }
          }
          state.update(seen.map(t => (t._1, t._2)).toSeq)
          out.iterator
      }
  }

  /** One LM count observation (q125's training unit), pre-aggregated
    * per micro-batch by the caller: `kind` 0 = unigram/prefix
    * occurrences of token-hash `h`, 1 = bigram occurrences of
    * pair-hash `h`; `n` the occurrence count this batch contributes.
    * Counts are ADDITIVE, so arrival order can never matter — the
    * state is a commutative sum monoid. */
  final case class LmCountEvent(kind: Int, h: Long, n: Long)

  /** One upserted LM-table row: the CUMULATIVE count of (kind, h)
    * after the emitting micro-batch. */
  final case class LmCountRow(kind: Int, h: Long, count: Long)

  /** Streaming twin of q125's bigram-LM TRAINING — completing the
    * incremental family (dedup, novelty, block-dedup, packing already
    * have twins): the unigram and bigram count tables live in the
    * STATE STORE, one long per distinct token/pair hash, hash-
    * partitioned on the key like the batch kernel's two hash aggs.
    * Every time a key receives new mass its NEW cumulative count is
    * emitted; each such row is a CORRECTION superseding the key's
    * previous row, so a sink that upserts by (kind, h) holds — after
    * ANY prefix of the stream — exactly the batch count tables of the
    * corpus seen so far (StreamingSpec pins the mid-stream prefix AND
    * the full 3-micro-batch replay ≡ batch lmScored, scoring the
    * upserted tables through the shared CurationOps.lmScoreJoin
    * arithmetic). Where noveltyTracker needs a conditional min-merge
    * and blockDeduper a canonical re-claim, counts need no correction
    * LOGIC at all — addition commutes, so late or out-of-order mass
    * folds in exactly; the emitted row is correction enough.
    */
  def lmCountTracker(events: Dataset[LmCountEvent]): Dataset[LmCountRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(e => (e.kind, e.h))
      .flatMapGroupsWithState[Long, LmCountRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (key: (Int, Long), evs: Iterator[LmCountEvent],
            state: GroupState[Long]) =>
          val cur = state.getOption.getOrElse(0L) + evs.map(_.n).sum
          state.update(cur)
          Iterator.single(LmCountRow(key._1, key._2, cur))
      }
  }

  /** One KMV observation (q63's collection unit): a 60-bit md5-derived
    * element hash for `group` (the per-source vocabulary stream). */
  final case class KmvEvent(group: String, h: Long)

  /** One upserted sketch row: the group's current k-minima buffer —
    * itself the mergeable KMV sketch (q63's contract). */
  final case class KmvSketchRow(group: String, mins: Seq[Long])

  /** Streaming twin of q63's KMV sketch COLLECTION — the fleet
    * pattern that makes sketches the streaming cardinality answer:
    * per group the k-minima buffer lives in the STATE STORE and every
    * micro-batch that lowers it emits the new buffer as a correction
    * row superseding the group's previous one, so an upserting sink
    * holds — after ANY prefix of the stream — exactly the batch
    * sketch of the elements seen so far. The merge is
    * [[graft.functions.KMinDistinctAggregator]]'s own k-bounded
    * distinct-merge (idempotent + commutative + associative: min-set
    * union), so arrival order, duplication, and micro-batch splits
    * can never change the converged buffer — no conditional
    * correction logic at all, the lmCountTracker argument with an
    * idempotent monoid instead of a sum. Estimation stays the
    * consumer's one-liner ((k−1)·2⁶⁰ / mins(k), q63's formula).
    */
  def kmvTracker(events: Dataset[KmvEvent], k: Int = 64)
      : Dataset[KmvSketchRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.group)
      .flatMapGroupsWithState[Seq[Long], KmvSketchRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (group: String, evs: Iterator[KmvEvent],
            state: GroupState[Seq[Long]]) =>
          val agg = new graft.functions.KMinDistinctAggregator(k)
          val prev = state.getOption.getOrElse(Seq.empty)
          val next = evs.foldLeft(prev)((buf, e) => agg.reduce(buf, e.h))
          if (next == prev) Iterator.empty
          else {
            state.update(next)
            Iterator.single(KmvSketchRow(group, next))
          }
      }
  }

  /** One chunk's packing input (q101's shape): `ord` the total order
    * key within a source, `n` its token count.
    */
  final case class ChunkEvent(source: String, ord: Long, n: Long)

  final case class ShardAssigned(source: String, ord: Long, n: Long,
      shardId: Long)

  /** Streaming twin of [[graft.ops.ShardPacking]] (q78/q101): shards
    * assigned AS CHUNKS ARRIVE. State is one long per source — the
    * running token total — so a chunk's shard is
    * `runningBefore div budget`, exactly the batch exclusive-prefix
    * law; StreamingSpec pins stream ≡ batch on micro-batch splits that
    * cut mid-source.
    *
    * Ordering contract, and why it differs from [[noveltyTracker]]:
    * within a micro-batch events are sorted by `ord`, but ACROSS
    * micro-batches arrival order must respect `ord` per source. A
    * prefix sum cannot retro-correct — a late chunk would shift every
    * subsequent assignment in its source, which is inherent to
    * packing, not to this implementation (production packs each
    * immutable ingest segment in order for the same reason). Novelty's
    * min-merge trick works there because ONE state transition affects
    * one gram; here it would cascade. The contract is ENFORCED, not
    * assumed: state carries the last ord seen, and a violating arrival
    * fails the query instead of silently misassigning every subsequent
    * shard in its source.
    */
  def shardPacker(chunks: Dataset[ChunkEvent], budget: Long)
      : Dataset[ShardAssigned] = {
    require(budget > 0, "budget must be positive")
    import chunks.sparkSession.implicits._
    chunks
      .groupByKey(_.source)
      .flatMapGroupsWithState[(Long, Long), ShardAssigned](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (src: String, events: Iterator[ChunkEvent],
            state: GroupState[(Long, Long)]) =>
          var (run, lastOrd) = state.getOption.getOrElse((0L, Long.MinValue))
          val out = events.toSeq.sortBy(_.ord).map { e =>
            if (e.ord <= lastOrd)
              throw new IllegalStateException(
                s"shardPacker: chunk ord=${e.ord} for source '$src' arrived " +
                  s"after ord=$lastOrd — out-of-order delivery violates the " +
                  "prefix-sum packing contract (see scaladoc)")
            lastOrd = e.ord
            val shard = run / budget
            run += e.n
            ShardAssigned(src, e.ord, e.n, shard)
          }
          state.update((run, lastOrd))
          out.iterator
      }
  }

  /** Streaming twin of the corpus dedup family (q29 exact, q36/q42
    * fingerprints): documents dedup-ed ON CONTENT as they arrive. The
    * state key is a fingerprint column the caller computes with the same
    * kernels the batch ops use — `md5(text)` for exact dedup, or the
    * native `simhash_bits(md5_longs(tokens, 4), 16)` for near-dup-as-
    * exact-key (two docs whose fingerprints collide dedup together) —
    * so stream and batch agree document-for-document by construction.
    * State is one row per distinct fingerprint, hash-partitioned — the
    * q29 shuffle shape, incremental.
    */
  def dedupByFingerprint(docs: DataFrame, fingerprint: org.apache.spark.sql.Column)
      : DataFrame =
    docs.withColumn("fp", fingerprint).dropDuplicates("fp").drop("fp")

  /** Streaming twin of q24's hourly event aggregation: event-time
    * tumbling window + watermark. In append mode a window's row is
    * emitted exactly once, when the watermark passes its end — and
    * events arriving later than `delay` behind the stream's max event
    * time are dropped (the reference has no late-data concept at all;
    * this is the capability it lacks, SURVEY.md §2.9).
    */
  /** Stream-static enrichment join — the most common production
    * streaming shape (the reference's analogue: each fetched page is
    * looked up against MySQL dimension rows before insert,
    * categorizer.py:150-188, done row-by-row on the driver there).
    * The static side is a plain DataFrame; a dimension under the
    * broadcast threshold plans as a BROADCAST hash join per
    * micro-batch, so the stream side never shuffles and the state
    * store is not involved at all — enrichment is stateless.
    * The static frame is re-resolved each batch (a reloaded dimension
    * table picks up changes at batch granularity); a LARGE static side
    * is a shuffled stream-static join instead, same semantics.
    * Unmatched stream rows are kept with null dimension columns
    * (left_outer): an enrichment miss must never DROP a fact at scale —
    * it quarantines like q65's corrupt rows.
    */
  def enrich(stream: DataFrame, dim: DataFrame, key: String): DataFrame =
    stream.join(dim, Seq(key), "left_outer")

  /** Streaming twin of q133's Bloom-filter decontamination — the
    * screen a training-data INGEST pipeline runs on every arriving
    * document: the constant-size (widx, word) bitmap frame is the
    * static side, and each micro-batch's docs are shingled, position-
    * hashed, and probed through the IDENTICAL factored plan the batch
    * query uses (TrainingOps.bloomProbeFlagged — four stream-static
    * broadcast joins + AND bit test). Everything up to the final
    * per-doc count is STATELESS — which is exactly why the Bloom shape
    * screens an unbounded stream where q77's exact probe-shingle-set
    * join could not: no per-GRAM state ever accumulates. The final
    * count's agg state does keep one small row per doc seen (update
    * mode, no watermark — each doc arrives once, so the row is final
    * after its batch); a production deployment bounds that with an
    * event-time column + watermark, which changes nothing upstream of
    * the agg. Output in update mode; a doc's verdict row is complete
    * once its batch commits (a doc's grams arrive together — one
    * event per doc).
    */
  def bloomScreen(docs: DataFrame, words: DataFrame): DataFrame =
    graft.queries.TrainingOps.bloomProbeFlagged(
      graft.queries.TrainingOps.bloomGrams(docs), words)

  /** Stream-STREAM join — attribute each purchase to a same-user click
    * at most `within` before it (the streaming twin of q55's as-of
    * semantics, restricted to a bounded lookback as streaming
    * requires). Both sides carry watermarks and the join condition
    * bounds event-time distance, which is what lets the state store
    * EVICT: a buffered click older than the watermark minus `within`
    * can never match a future purchase and is dropped — without the
    * time bound, stream-stream join state grows forever. State
    * shuffles once keyed on user_id, the same shape as every stateful
    * op here. Inner join ⇒ append mode; results for a micro-batch
    * emit as soon as both sides' watermarks pass.
    *
    * Expected columns: clicks(user_id, click_id, ts),
    * purchases(user_id, purchase_id, ts).
    */
  def clickAttribution(clicks: DataFrame, purchases: DataFrame,
      within: String = "30 minutes"): DataFrame = {
    val c = clicks
      .select(col("user_id"), col("click_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", within)
    val p = purchases
      .select(col("user_id"), col("purchase_id"), col("ts").as("purchase_ts"))
      .withWatermark("purchase_ts", within)
    c.join(p,
      c("user_id") === p("user_id") &&
        col("purchase_ts") >= col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"interval $within"))
      .select(c("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  def hourlyCounts(events: DataFrame, delay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("hour_start"),
        col("event_type"), col("n_events"))

  /** Streaming twin of q49's gap-based sessionization: session_window
    * state merges sessions ACROSS micro-batches (an event arriving
    * within the gap of an open session extends it), emitting a session
    * row only when the watermark passes its close — semantics no batch
    * query can express incrementally.
    */
  def sessionCounts(events: DataFrame, gap: String = "30 minutes",
      delay: String = "2 hours"): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(session_window(col("ts"), gap), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("session_window.start").as("session_start"),
        col("user_id"), col("n_events"))

  /** O-29/O-30 stream sink: each micro-batch written to a parquet
    * ledger under its own `batch_id=N` partition — the Mongo
    * crawl-ledger insert (db_api.py:30-37) plus the queue's
    * persistent-delivery guarantee (queue_api.py:49), which in Spark is
    * the checkpoint: a re-started query resumes from the last committed
    * batch instead of re-publishing. foreachBatch because the ledger
    * wants batch-id provenance; a plain `format("parquet")` sink would
    * get exactly-once from the file-commit protocol but loses the batch
    * column.
    *
    * Idempotence: foreachBatch alone is at-least-once — a batch retried
    * after a partial write would duplicate rows under blind `append`. So
    * each batch DYNAMICALLY OVERWRITES exactly its own `batch_id=N`
    * partition: a replayed batch replaces its partial output instead of
    * appending next to it, upgrading the sink to effectively-once
    * (same guarantee shape as a transactional per-batch commit).
    */
  /** One ledger batch write — the foreachBatch body, named so the replay
    * path is unit-testable: calling it twice with the same id yields the
    * same ledger contents (see StreamingSpec).
    */
  def writeLedgerBatch(batch: Dataset[org.apache.spark.sql.Row], id: Long,
      path: String): Unit =
    batch.withColumn("batch_id", lit(id))
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("batch_id")
      .parquet(path)

  def ledgerSink(deduped: DataFrame, path: String, checkpoint: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    deduped.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
        writeLedgerBatch(batch, id, path)
      }
      .start()

  // -------------------------------------------------------------------
  // The LIVE data card — q144's per-source datasheet maintained by the
  // ingest stream
  // -------------------------------------------------------------------

  /** One per-document observation for the live data card: the per-doc
    * measures q144 computes batch-side (token/char counts, md5 text
    * hash, the exact fixed-point quality score, scorability). */
  final case class DocCardEvent(source: String, docId: Long, nTok: Long,
      nChars: Long, h: String, sFp: Long, scorable: Boolean)

  /** The source's current volume panel — q144's order-insensitive
    * columns as running sums; each emission supersedes the source's
    * previous row in an upserting sink (the lmCountTracker
    * convention). mean quality stays the consumer's one IEEE division
    * (sumSFp / max(nScored, 1)) so no float ever enters state. */
  final case class CardRow(source: String, nDocs: Long, nTokens: Long,
      nChars: Long, nShort: Long, nScored: Long, sumSFp: Long)

  /** A +1 attribution to `source`'s duplicate-loser (or vocabulary)
    * tally; deltas are NEVER retracted — summing them per source
    * after any complete replay gives the batch figure exactly. */
  final case class CardDelta(source: String, delta: Long)

  /** Streaming twin of q144's VOLUME panels (doc/token/char counts,
    * the short-doc tail, quality sums): every column is a
    * commutative-monoid sum, so the per-source state converges to the
    * batch card under ANY arrival order or micro-batch split — the
    * strongest form of the order-insensitivity argument the other
    * trackers need machinery for. */
  def cardTracker(events: Dataset[DocCardEvent]): Dataset[CardRow] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.source)
      .flatMapGroupsWithState[CardRow, CardRow](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (src: String, evs: Iterator[DocCardEvent],
            state: GroupState[CardRow]) =>
          var s = state.getOption.getOrElse(
            CardRow(src, 0L, 0L, 0L, 0L, 0L, 0L))
          evs.foreach { e =>
            s = CardRow(src, s.nDocs + 1, s.nTokens + e.nTok,
              s.nChars + e.nChars,
              s.nShort + (if (e.nTok < 16) 1L else 0L),
              s.nScored + (if (e.scorable) 1L else 0L),
              s.sumSFp + (if (e.scorable) e.sFp else 0L))
          }
          state.update(s)
          Iterator.single(s)
      }
  }

  /** Streaming twin of q144's duplicate-burden panel under the BATCH
    * rule (min doc_id survives its md5 group — NOT first-arrival
    * survives): per text hash the state holds the current (minId,
    * minSource); a doc arriving below the minimum DISPLACES it (the
    * old minimum becomes a loser of its own source), above it the
    * arrival is the loser. Every non-minimum doc contributes exactly
    * one +1 to its own source over any complete replay, so the
    * per-source delta sum equals the batch figure regardless of
    * arrival order — no retractions, the blockDeduper ord argument
    * without the correction rows. State is one (long, string) per
    * distinct text — linear, the q68 seen-set trade, and the same
    * information the batch md5 group agg shuffles. */
  def dupLoserDeltas(events: Dataset[DocCardEvent]): Dataset[CardDelta] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.h)
      .flatMapGroupsWithState[(Long, String), CardDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, evs: Iterator[DocCardEvent],
            state: GroupState[(Long, String)]) =>
          val out = Seq.newBuilder[CardDelta]
          var cur = state.getOption
          evs.foreach { e =>
            cur match {
              case None => cur = Some((e.docId, e.source))
              case Some((minId, minSrc)) =>
                if (e.docId < minId) {
                  out += CardDelta(minSrc, 1L) // displaced min is the loser
                  cur = Some((e.docId, e.source))
                } else out += CardDelta(e.source, 1L)
            }
          }
          cur.foreach(state.update)
          out.result().iterator
      }
  }

  /** Streaming twin of q144's vocabulary panel: first sighting of a
    * (source, word) pair emits one +1 delta, repeats emit nothing —
    * the firstSeen/novelty shape keyed by the pair, so the per-source
    * delta sum is the exact distinct-word count after any complete
    * replay. State is one boolean per (source, word) — Heaps'-law
    * bounded (the q138 vocabulary argument), the ONLY card panel
    * whose state grows with vocabulary rather than corpus. */
  def vocabDeltas(events: Dataset[(String, String)]): Dataset[CardDelta] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(identity)
      .flatMapGroupsWithState[Boolean, CardDelta](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: (String, String), _: Iterator[(String, String)],
            state: GroupState[Boolean]) =>
          if (state.exists) Iterator.empty
          else { state.update(true); Iterator.single(CardDelta(key._1, 1L)) }
      }
  }

  /** The three live-card streaming queries, composed into ONE
    * queryable persisted card (see [[cardSink]]/[[readCard]]). */
  final case class CardStreams(
      volume: org.apache.spark.sql.streaming.StreamingQuery,
      dup: org.apache.spark.sql.streaming.StreamingQuery,
      vocab: org.apache.spark.sql.streaming.StreamingQuery) {
    def stopAll(): Unit = { volume.stop(); dup.stop(); vocab.stop() }
    def processAllAvailable(): Unit = {
      volume.processAllAvailable(); dup.processAllAvailable()
      vocab.processAllAvailable()
    }
  }

  /** Persist the three card trackers into one queryable store under
    * `path` — the COMPOSED live data card. Each tracker writes through
    * [[writeLedgerBatch]]'s batch_id-partition dynamic overwrite, so a
    * replayed micro-batch REPLACES its own partial output and every
    * panel is effectively-once without a transaction log:
    *
    *  - `path/volume`: [[cardTracker]]'s upsert rows — one CardRow per
    *    touched source per batch; the CURRENT panel is each source's
    *    row from its latest batch (last-write-wins upsert, resolved at
    *    read time by [[readCard]]).
    *  - `path/dup`, `path/vocab`: the delta streams — append-only +1
    *    attributions whose per-source SUM is the panel (never
    *    retracted, so re-summing after any replay is exact).
    *
    * `events` and `dupEvents` are two subscriptions to the SAME
    * per-document feed (two independent streaming queries cannot share
    * one MemoryStream's commit cursor; a replayable bus/file source
    * passes the same frame twice). A mid-stream reader sees each
    * panel at a committed batch boundary — [[readCard]] equals batch
    * q144 over exactly the documents ingested so far WHEN all three
    * queries have committed the same input prefix (how StreamingSpec
    * reads it, via processAllAvailable at each boundary). The three
    * queries commit on independent schedules, so a read taken while
    * they are mid-batch can mix prefixes across panels — dup losers
    * counted for docs the volume panel hasn't committed, or a source
    * dropped by the vocab inner join because the words query lags;
    * each panel is still exact for ITS OWN committed prefix. A
    * consumer needing cross-panel consistency without draining would
    * key panels by a shared high-watermark id and read to the minimum
    * committed watermark.
    */
  def cardSink(events: Dataset[DocCardEvent],
      dupEvents: Dataset[DocCardEvent],
      words: Dataset[(String, String)],
      path: String, checkpointRoot: String): CardStreams = {
    def start(df: DataFrame, mode: String, sub: String) =
      df.writeStream
        .outputMode(mode)
        .option("checkpointLocation", s"$checkpointRoot/$sub")
        .foreachBatch { (batch: Dataset[org.apache.spark.sql.Row], id: Long) =>
          writeLedgerBatch(batch, id, s"$path/$sub")
        }
        .start()
    CardStreams(
      start(cardTracker(events).toDF(), "update", "volume"),
      start(dupLoserDeltas(dupEvents).toDF(), "append", "dup"),
      start(vocabDeltas(words).toDF(), "append", "vocab"))
  }

  /** Read the composed card [[cardSink]] maintains — one row per
    * source in q144's exact column shape (source, n_docs, n_tokens,
    * n_chars, vocab, n_dup_losers, n_short, n_scored,
    * mean_quality_fp). Runnable MID-STREAM: the volume panel resolves
    * the upsert (latest batch's row per source), the delta panels sum,
    * and the join semantics mirror q144's (vocab inner — a source
    * with no non-empty token yet is not on the card; dup-loser left
    * with 0). Cross-panel consistency caveat: see [[cardSink]] — the
    * q144 equality holds when the three writers have committed the
    * same input prefix; mid-batch reads are per-panel exact but can
    * mix prefixes across panels. The store is sources × batches sized, so every frame
    * here is tiny; mean quality is the consumer-side single IEEE
    * division of exact ints, the q144 discipline. A panel whose
    * stream has not yet committed any ROW (an empty-prefix store —
    * parquet with no inferable schema) reads as empty: zero dup
    * losers, no vocabulary sightings — exactly what the batch card
    * over the same empty prefix would say. */
  def readCard(spark: SparkSession, path: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def tryRead(p: String, fallback: => DataFrame): DataFrame =
      try spark.read.parquet(p)
      catch {
        case _: org.apache.spark.sql.AnalysisException => fallback
      }
    val emptyDeltas = spark.range(0)
      .select(lit("").as("source"), lit(0L).as("delta"))
    val w = Window.partitionBy(col("source")).orderBy(col("batch_id").desc)
    val latest = tryRead(s"$path/volume", spark.range(0)
        .select(lit("").as("source"), lit(0L).as("nDocs"),
          lit(0L).as("nTokens"), lit(0L).as("nChars"), lit(0L).as("nShort"),
          lit(0L).as("nScored"), lit(0L).as("sumSFp"),
          lit(0L).as("batch_id")))
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1).drop("__rn", "batch_id")
    val dup = tryRead(s"$path/dup", emptyDeltas)
      .groupBy(col("source")).agg(sum(col("delta")).as("n_dup_losers"))
    val voc = tryRead(s"$path/vocab", emptyDeltas)
      .groupBy(col("source")).agg(sum(col("delta")).as("vocab"))
    latest.join(voc, "source")
      .join(dup, Seq("source"), "left")
      .select(col("source"), col("nDocs").as("n_docs"),
        col("nTokens").as("n_tokens"), col("nChars").as("n_chars"),
        col("vocab"),
        coalesce(col("n_dup_losers"), lit(0L)).as("n_dup_losers"),
        col("nShort").as("n_short"), col("nScored").as("n_scored"),
        (col("sumSFp").cast("double")
          / greatest(col("nScored"), lit(1L)).cast("double"))
          .as("mean_quality_fp"))
      .orderBy(col("source"))
  }
}
