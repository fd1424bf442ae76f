package graft.streaming

import graft.SparkSpec
import graft.streaming.Streams.UrlEvent
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import java.sql.Timestamp

/** Structured Streaming semantics via MemoryStream micro-batches: stream
  * results are asserted against the BATCH twin computed over the same
  * rows (the batch ops being oracle-checked separately), plus the
  * watermark behaviors the batch twin can't express.
  */
class StreamingSpec extends SparkSpec {

  private def ts(hhmm: String): Timestamp =
    Timestamp.valueOf(s"2024-03-01 $hhmm:00")



  test("stream-stream click attribution joins within the time bound and evicts beyond it") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val clicks = MemoryStream[(Long, Long, Timestamp)]
    val purchases = MemoryStream[(Long, Long, Timestamp)]
    val q = Streams.clickAttribution(
      clicks.toDF().toDF("user_id", "click_id", "ts"),
      purchases.toDF().toDF("user_id", "purchase_id", "ts"),
      "30 minutes")
      .writeStream.format("memory").queryName("attr_out")
      .outputMode("append").start()
    try {
      clicks.addData((1L, 100L, ts("10:00")), (2L, 101L, ts("10:00")))
      purchases.addData(
        (1L, 900L, ts("10:10")),  // 10 min after u1's click -> match
        (2L, 901L, ts("11:30")))  // 90 min after u2's click -> outside bound
      q.processAllAvailable()
      // advance both watermarks far enough to finalize results
      clicks.addData((9L, 999L, ts("13:00")))
      purchases.addData((9L, 998L, ts("13:00")))
      q.processAllAvailable()
      val got = s.table("attr_out")
        .select("click_id", "purchase_id").as[(Long, Long)].collect().toSet
      assert(got.contains((100L, 900L)), s"in-window match missing: $got")
      assert(!got.exists(_._2 == 901L), s"out-of-window purchase matched: $got")
    } finally q.stop()
  }

  test("enrich joins each micro-batch against the static dimension, keeping misses") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val dim = Seq(("en.wikipedia.org", "wiki"), ("example.com", "other"))
      .toDF("domain", "kind")
    val in = MemoryStream[(String, String)]
    val q = Streams.enrich(in.toDF().toDF("url", "domain"), dim, "domain")
      .writeStream.format("memory").queryName("enrich_out")
      .outputMode("append").start()
    try {
      in.addData(("u1", "en.wikipedia.org"), ("u2", "unknown.net"))
      q.processAllAvailable()
      in.addData(("u3", "example.com"))
      q.processAllAvailable()
      val rows = s.table("enrich_out").select("url", "kind").as[(String, String)]
        .collect().toMap
      // matches enriched, the miss KEPT with a null kind (never dropped)
      assert(rows === Map("u1" -> "wiki", "u2" -> null, "u3" -> "other"))
      // the small dimension broadcasts from its size alone: no hint, and
      // the stream side never shuffles
      val plan = q.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
        .streamingQuery.lastExecution.executedPlan.toString
      assert("BroadcastHashJoin .*LeftOuter, BuildRight".r.findFirstIn(plan).isDefined, plan)
    } finally q.stop()
  }

  test("dedupUrls emits each URL once across micro-batches (Redis-set semantics)") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[UrlEvent]
    val q = Streams.dedupUrls(in.toDF())
      .writeStream.format("memory").queryName("dedup_out")
      .outputMode("append").start()
    try {
      in.addData(
        UrlEvent("https://en.wikipedia.org/wiki/A", ts("10:00")),
        UrlEvent("https://en.wikipedia.org/wiki/B", ts("10:01")),
        UrlEvent("https://en.wikipedia.org/wiki/A", ts("10:02")))
      q.processAllAvailable()
      assert(s.table("dedup_out").select("url").as[String].collect().sorted
        === Array("https://en.wikipedia.org/wiki/A", "https://en.wikipedia.org/wiki/B"))

      // a later batch re-offering a seen URL adds nothing (SADD on member)
      in.addData(
        UrlEvent("https://en.wikipedia.org/wiki/A", ts("11:00")),
        UrlEvent("https://en.wikipedia.org/wiki/C", ts("11:01")))
      q.processAllAvailable()
      assert(s.table("dedup_out").count() === 3)
    } finally q.stop()
  }

  test("firstSeen emits first sighting only and keeps counting state") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[UrlEvent]
    val q = Streams.firstSeen(in.toDS())
      .writeStream.format("memory").queryName("firstseen_out")
      .outputMode("update").start()
    try {
      in.addData(UrlEvent("u1", ts("10:05")), UrlEvent("u1", ts("10:01")),
        UrlEvent("u2", ts("10:02")))
      q.processAllAvailable()
      val first = s.table("firstseen_out").as[UrlEvent].collect()
        .map(e => e.url -> e.ts).toMap
      // within the first batch, the EARLIEST sighting wins
      assert(first === Map("u1" -> ts("10:01"), "u2" -> ts("10:02")))

      in.addData(UrlEvent("u1", ts("12:00")), UrlEvent("u3", ts("12:01")))
      q.processAllAvailable()
      assert(s.table("firstseen_out").count() === 3) // only u3 added
    } finally q.stop()
  }

  test("urlLedger (mapGroupsWithState) upserts one current row per URL across batches") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[UrlEvent]
    val q = Streams.urlLedger(in.toDS())
      .writeStream.format("memory").queryName("ledger_state_out")
      .outputMode("update").start()
    try {
      in.addData(UrlEvent("u1", ts("10:05")), UrlEvent("u1", ts("10:01")),
        UrlEvent("u2", ts("10:02")))
      q.processAllAvailable()
      in.addData(UrlEvent("u1", ts("12:00")))
      q.processAllAvailable()
      // memory sink in update mode appends each emission; the LAST row
      // per url is the current ledger state
      val current = s.table("ledger_state_out").as[Streams.UrlLedger]
        .collect().groupBy(_.url).map { case (u, rows) =>
          u -> rows.maxBy(_.sightings)
        }
      assert(current("u1").sightings === 3L)
      assert(current("u1").firstSeen === ts("10:01")) // min across batches
      assert(current("u1").lastSeen === ts("12:00"))  // max across batches
      assert(current("u2").sightings === 1L)
    } finally q.stop()
  }

  test("dedupByFingerprint: exact-content dedup across batches; near-dup key collapses rewrites") {
    val s = spark
    import s.implicits._
    import org.apache.spark.sql.functions._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    final case class Doc(doc_id: Long, text: String)
    val in = MemoryStream[(Long, String)]
    val q = Streams.dedupByFingerprint(
        in.toDF().toDF("doc_id", "text"), md5(col("text")))
      .writeStream.format("memory").queryName("fp_dedup_out")
      .outputMode("append").start()
    try {
      in.addData((1L, "alpha beta gamma"), (2L, "delta epsilon"))
      q.processAllAvailable()
      // an exact copy in a LATER micro-batch is suppressed by state
      in.addData((3L, "alpha beta gamma"), (4L, "zeta eta"))
      q.processAllAvailable()
      val kept = s.table("fp_dedup_out").select("doc_id").as[Long].collect().sorted
      assert(kept === Array(1L, 2L, 4L))
      // the fp helper column never leaks into the output schema
      assert(!s.table("fp_dedup_out").columns.contains("fp"))
    } finally q.stop()

    // near-dup-as-exact-key: the simhash fingerprint the batch q36/q42
    // ops compute collapses token-identical rewrites (order-insensitive
    // distinct-token sets → identical fingerprint)
    val fp = graft.functions.GraftFunctions.simhash(
      graft.functions.GraftFunctions.md5Longs(
        array_distinct(split(lower(col("text")), " ")), 4), 16)
    val in2 = MemoryStream[(Long, String)]
    val q2 = Streams.dedupByFingerprint(in2.toDF().toDF("doc_id", "text"), fp)
      .writeStream.format("memory").queryName("fp_near_out")
      .outputMode("append").start()
    try {
      in2.addData((1L, "spark is a unified engine"))
      q2.processAllAvailable()
      in2.addData((2L, "engine unified a is spark"), (3L, "completely different words"))
      q2.processAllAvailable()
      val kept2 = s.table("fp_near_out").select("doc_id").as[Long].collect().sorted
      assert(kept2 === Array(1L, 3L)) // the reordering deduped against doc 1
    } finally q2.stop()
  }

  test("bloomScreen: streaming Bloom decontamination == batch q133, forward and reversed") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documents(spark, sf)
      .select("doc_id", "text").as[(Long, String)].collect().toSeq
    // the bitmap frame, built and stored exactly as q133 builds it (eval
    // = doc_id < 10): not re-derived per micro-batch, and its measured
    // size plans the word joins
    val g = graft.queries.TrainingOps.bloomGrams(
      graft.Tables.documents(spark, sf))
    val words = graft.ops.Stored.checkpoint(graft.queries.TrainingOps.bloomWords(
      g.filter(col("doc_id") < 10)
        .select(explode(col("grams")).as("g")).distinct())).df
    val want = graft.queries.TrainingOps.q133BloomDecontam.fn(spark, sf)
      .as[(Long, Long, Int)].collect().toSet
    assert(want.nonEmpty, "fixture must flag at least one doc")

    def run(events: Seq[(Long, String)], name: String): Set[(Long, Long, Int)] = {
      val in = MemoryStream[(Long, String)]
      val q = Streams.bloomScreen(in.toDF().toDF("doc_id", "text"), words)
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        val (a, b) = events.splitAt(events.size / 2)
        in.addData(a: _*); q.processAllAvailable()
        in.addData(b: _*); q.processAllAvailable()
        s.table(name).as[(Long, Long, Int)].collect().toSet
      } finally q.stop()
    }

    val probeDocs = docs.filter(_._1 >= 10)
    assert(run(probeDocs, "bloom_fwd") === want)
    assert(run(probeDocs.reverse, "bloom_rev") === want)
  }

  test("hourlyCounts (complete mode) equals the batch twin on the same rows") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val rows = Seq(
      (ts("10:05"), "click"), (ts("10:40"), "click"), (ts("10:59"), "view"),
      (ts("11:10"), "click"), (ts("12:00"), "view"))
    val in = MemoryStream[(Timestamp, String)]
    val stream = in.toDF().toDF("ts", "event_type")
    val q = Streams.hourlyCounts(stream)
      .writeStream.format("memory").queryName("hourly_out")
      .outputMode("complete").start()
    try {
      in.addData(rows: _*)
      q.processAllAvailable()
      val got = s.table("hourly_out")
        .as[(Timestamp, String, Long)].collect().toSet
      val want = Streams.hourlyCounts(rows.toDF("ts", "event_type"))
        .as[(Timestamp, String, Long)].collect().toSet
      assert(got === want)
      assert(want.contains((ts("10:00"), "click", 2L)))
    } finally q.stop()
  }

  test("hourlyCounts (append mode) finalizes windows once and drops late data") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[(Timestamp, String)]
    val q = Streams.hourlyCounts(in.toDF().toDF("ts", "event_type"))
      .writeStream.format("memory").queryName("hourly_append_out")
      .outputMode("append").start()
    try {
      in.addData((ts("10:05"), "click"), (ts("10:10"), "click"))
      q.processAllAvailable()
      assert(s.table("hourly_append_out").count() === 0) // window still open

      // advance event time to 14:00 -> watermark 12:00 -> 10:00 window closes
      in.addData((ts("14:00"), "view"))
      q.processAllAvailable()
      val closed = s.table("hourly_append_out")
        .as[(Timestamp, String, Long)].collect().toSet
      assert(closed === Set((ts("10:00"), "click", 2L)))

      // 10:20 is now far behind the 12:00 watermark: dropped, no re-emit
      in.addData((ts("10:20"), "click"))
      q.processAllAvailable()
      assert(s.table("hourly_append_out").count() === 1)
    } finally q.stop()
  }

  test("sessionCounts merges one session across micro-batches, splits on gap") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[(Timestamp, Long)]
    val q = Streams.sessionCounts(in.toDF().toDF("ts", "user_id"))
      .writeStream.format("memory").queryName("session_out")
      .outputMode("append").start()
    try {
      // batch 1: two events 10 min apart; batch 2 extends the SAME
      // session (25 min gap), then a 40-min gap opens a second session
      in.addData((ts("10:00"), 7L), (ts("10:10"), 7L))
      q.processAllAvailable()
      in.addData((ts("10:35"), 7L), (ts("11:15"), 7L))
      q.processAllAvailable()
      assert(s.table("session_out").count() === 0) // watermark still open

      // advance watermark far past both sessions to close them
      in.addData((ts("16:00"), 99L))
      q.processAllAvailable()
      val sessions = s.table("session_out")
        .as[(Timestamp, Long, Long)].collect().filter(_._2 == 7L).toSet
      assert(sessions === Set(
        (ts("10:00"), 7L, 3L),  // merged across batches
        (ts("11:15"), 7L, 1L))) // split by the 40-min gap
    } finally q.stop()
  }

  test("noveltyTracker (state-store gram table) equals batch q96 on the same corpus") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    // The same distinct (batch, gram) frame q96/q98 count, pre-hashed
    // with the q98 key reduction, fed in THREE micro-batches split
    // mid-curve so gram state must carry across micro-batch boundaries.
    val events = graft.Tables.documentsSpread(s, "/root/testdata/sf0.001")
      .select((col("doc_id") % 10).as("batch"),
        expr("filter(split(lower(text), ' '), t -> t <> '')").as("ts"))
      .filter(size(col("ts")) >= 8)
      .select(col("batch"),
        explode(array_distinct(graft.functions.GraftFunctions.ngrams(col("ts"), 8))).as("g"))
      .distinct()
      .select(xxhash64(col("g")).as("gh"), col("batch"))
      .as[Streams.GramEvent].collect().toSeq
    val in = MemoryStream[Streams.GramEvent]
    val q = Streams.noveltyTracker(in.toDS())
      .writeStream.format("memory").queryName("novelty_out")
      .outputMode("update").start()
    try {
      in.addData(events.filter(_.batch <= 3))
      q.processAllAvailable()
      in.addData(events.filter(e => e.batch > 3 && e.batch <= 6))
      q.processAllAvailable()
      in.addData(events.filter(_.batch > 6))
      q.processAllAvailable()
      val streamed = s.table("novelty_out")
        .groupBy(col("batch"))
        .agg(count(lit(1)).as("n_grams"),
          sum(when(col("isNew"), 1L).otherwise(0L)).as("n_new"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      val batch = graft.queries.CurationOps.q96NoveltyCurve
        .fn(s, "/root/testdata/sf0.001")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sortBy(_._1)
      assert(streamed === batch,
        "stream-accumulated novelty must equal the batch recompute-all form")
    } finally q.stop()
  }

  test("noveltyTracker min-merges late lower batches and emits a correction row") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[Streams.GramEvent]
    val q = Streams.noveltyTracker(in.toDS())
      .writeStream.format("memory").queryName("novelty_ooo")
      .outputMode("update").start()
    try {
      // gh=1 arrives OUT of ingest-batch order (5 then 2); gh=2 in order
      in.addData(Streams.GramEvent(1L, 5L), Streams.GramEvent(2L, 1L))
      q.processAllAvailable()
      in.addData(Streams.GramEvent(1L, 2L), Streams.GramEvent(2L, 3L))
      q.processAllAvailable()
      val rows = s.table("novelty_ooo")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      // the late (1, batch=2) must be credited new with the merged first
      assert(rows.contains((1L, 2L, 2L, true)))
      // and the previously-first batch 5 must get a correction row
      assert(rows.contains((1L, 5L, 2L, false)),
        s"missing correction for the superseded first batch: ${rows.mkString(", ")}")
      // upsert by (gh, batch) — corrections only ever flip true->false,
      // so min(isNew) is the sink's last-write-wins result
      val upserted = rows.groupBy(r => (r._1, r._2))
        .map { case (k, vs) => k -> vs.map(_._4).reduce(_ && _) }
      assert(upserted == Map((1L, 2L) -> true, (1L, 5L) -> false,
        (2L, 1L) -> true, (2L, 3L) -> false),
        "upserted view must converge to the batch (min-first) semantics")
      // in-order group saw no correction: exactly 2 rows for gh=2
      assert(rows.count(_._1 == 2L) == 2)
    } finally q.stop()
  }

  test("blockDeduper (state-store canonical table) equals sequential keep-first on the real corpus") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    // q123's block frame at sf0.001 (same slicing + hash expressions),
    // fed in THREE micro-batches split mid-corpus so canonical state
    // must carry across micro-batch boundaries
    val events = graft.Tables.documentsSpread(s, "/root/testdata/sf0.001")
      .select(col("doc_id"),
        expr("filter(split(lower(text), ' '), t -> t <> '')").as("ts"))
      .select(col("doc_id"),
        posexplode(expr(
          "transform(sequence(0, cast((size(ts) + 15) div 16 as int) - 1), " +
            "i -> array_join(slice(ts, i * 16 + 1, 16), ' '))"))
          .as(Seq("bi", "blk")))
      .select(xxhash64(col("blk")).as("bh"), col("doc_id").as("docId"),
        col("bi").cast("long").as("bi"))
      .as[Streams.BlockEvent].collect().toSeq.sortBy(e => (e.docId, e.bi))
    val in = MemoryStream[Streams.BlockEvent]
    val q = Streams.blockDeduper(in.toDS())
      .writeStream.format("memory").queryName("blockdedup_out")
      .outputMode("update").start()
    try {
      in.addData(events.filter(_.docId < 150))
      q.processAllAvailable()
      in.addData(events.filter(e => e.docId >= 150 && e.docId < 350))
      q.processAllAvailable()
      in.addData(events.filter(_.docId >= 350))
      q.processAllAvailable()
      // upsert by (docId, bi): corrections only flip true -> false
      val raw = s.table("blockdedup_out").collect()
      // (NB: Map.collect over pair results would rebuild a Map keyed by
      // docId and silently collapse block positions — filter + keySet)
      val streamedKept = raw
        .map(r => ((r.getLong(1), r.getLong(2)), r.getBoolean(3)))
        .groupBy(_._1)
        .filter { case (_, vs) => vs.forall(_._2) }
        .keySet.toSet
      // sequential driver-side keep-first (the q123 contract):
      // an instance is kept iff its hash is unseen at its (doc, bi) turn
      val seen = scala.collection.mutable.Set.empty[Long]
      val expected = events.flatMap { e =>
        if (seen.add(e.bh)) Some((e.docId, e.bi)) else None
      }.toSet
      assert(streamedKept === expected,
        s"stream-upserted kept set (${streamedKept.size}) must equal the " +
          s"sequential keep-first (${expected.size})")
    } finally q.stop()
  }

  test("blockDeduper re-claims for a late lower instance and emits a correction row") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[Streams.BlockEvent]
    val q = Streams.blockDeduper(in.toDS())
      .writeStream.format("memory").queryName("blockdedup_ooo")
      .outputMode("update").start()
    try {
      // bh=7 first claimed by (doc 9, bi 1); the true canonical
      // (doc 2, bi 0) arrives a micro-batch later
      in.addData(Streams.BlockEvent(7L, 9L, 1L))
      q.processAllAvailable()
      in.addData(Streams.BlockEvent(7L, 2L, 0L))
      q.processAllAvailable()
      val rows = s.table("blockdedup_ooo")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      assert(rows.contains((7L, 2L, 0L, true)), "late canonical must be kept")
      assert(rows.contains((7L, 9L, 1L, false)),
        s"missing correction for the superseded claimant: ${rows.mkString(", ")}")
      val upserted = rows.groupBy(r => (r._2, r._3))
        .map { case (k, vs) => k -> vs.map(_._4).reduce(_ && _) }
      assert(upserted == Map((2L, 0L) -> true, (9L, 1L) -> false))
    } finally q.stop()
  }

  test("lmCountTracker state tables converge per prefix, and full replay equals batch lmScored") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val sf = "/root/testdata/sf0.001"
    val docs = graft.Tables.documentsSpread(s, sf)
    // ingest split 3 ways by doc_id; per-batch events are the caller's
    // pre-aggregation contract: unigram occurrences of every token +
    // bigram occurrences from the shared pair kernel
    def eventsOf(mb: Int): Seq[Streams.LmCountEvent] = {
      val part = docs.filter(col("doc_id") % 3 === mb)
      val uni = part
        .select(explode(expr("filter(split(lower(text), ' '), t -> t <> '')")).as("w"))
        .groupBy(xxhash64(col("w")).as("h")).agg(count(lit(1)).as("n"))
        .collect().map(r => Streams.LmCountEvent(0, r.getLong(0), r.getLong(1)))
      val bi = graft.queries.CurationOps.lmPairs(part)
        .groupBy(col("bh").as("h")).agg(count(lit(1)).as("n"))
        .collect().map(r => Streams.LmCountEvent(1, r.getLong(0), r.getLong(1)))
      (uni ++ bi).toSeq
    }
    val in = MemoryStream[Streams.LmCountEvent]
    val q = Streams.lmCountTracker(in.toDS())
      .writeStream.format("memory").queryName("lm_counts")
      .outputMode("update").start()
    // the upsert the emitted rows are designed for: latest row per
    // (kind, h) — counts only grow, so max(count) IS last-write-wins
    def upserted() = s.table("lm_counts")
      .groupBy(col("kind"), col("h")).agg(max(col("count")).as("c"))
    def tables() = (
      upserted().filter(col("kind") === 0)
        .select(col("h").as("uh"), col("c").as("cu")),
      upserted().filter(col("kind") === 1)
        .select(col("h").as("bh"), col("c").as("cb")))
    try {
      in.addData(eventsOf(0)); q.processAllAvailable()
      in.addData(eventsOf(1)); q.processAllAvailable()
      // mid-stream prefix contract: the upserted tables equal the batch
      // count tables of exactly the corpus seen so far
      val prefixDocs = docs.filter(col("doc_id") % 3 =!= 2)
      val (u2, b2) = tables()
      val batchUni = prefixDocs
        .select(explode(expr("filter(split(lower(text), ' '), t -> t <> '')")).as("w"))
        .groupBy(xxhash64(col("w")).as("uh")).agg(count(lit(1)).as("cu"))
      assert(u2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        batchUni.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        "prefix unigram table diverged from the batch count of the seen corpus")
      val batchBi = graft.queries.CurationOps.lmPairs(prefixDocs)
        .groupBy(col("bh")).agg(count(lit(1)).as("cb"))
      assert(b2.collect().map(r => (r.getLong(0), r.getLong(1))).toSet ===
        batchBi.collect().map(r => (r.getLong(0), r.getLong(1))).toSet,
        "prefix bigram table diverged from the batch count of the seen corpus")
      in.addData(eventsOf(2)); q.processAllAvailable()
      // full-replay contract: q125's arithmetic over the state-store
      // tables equals batch lmScored on the whole corpus, bit for bit
      val (uFin, bFin) = tables()
      val streamed = graft.queries.CurationOps
        .lmScoreJoin(graft.queries.CurationOps.lmPairs(docs), uFin, bFin)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sortBy(_._1)
      val batch = graft.queries.CurationOps.lmScored(docs)
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
        .toSeq.sortBy(_._1)
      assert(streamed === batch,
        "stream-accumulated LM tables must score identically to batch lmScored")
    } finally q.stop()
  }

  test("lmCountTracker emits a superseding row per new mass; upsert converges regardless of order") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[Streams.LmCountEvent]
    val q = Streams.lmCountTracker(in.toDS())
      .writeStream.format("memory").queryName("lm_counts_ooo")
      .outputMode("update").start()
    try {
      // key (1, 7) receives mass in both micro-batches — the second
      // emission must carry the cumulative 5 (the correction row); a
      // "late" contribution for (0, 3) lands after (0, 3) was already
      // emitted and must fold in identically (sums commute)
      in.addData(Streams.LmCountEvent(1, 7L, 2), Streams.LmCountEvent(0, 3L, 4))
      q.processAllAvailable()
      in.addData(Streams.LmCountEvent(1, 7L, 3), Streams.LmCountEvent(0, 3L, 1))
      q.processAllAvailable()
      val rows = s.table("lm_counts_ooo")
        .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq
      assert(rows.toSet === Set((1, 7L, 2L), (1, 7L, 5L), (0, 3L, 4L), (0, 3L, 5L)),
        s"unexpected emission set: $rows")
      // last-write-wins upsert (max of a growing count) = the batch sum
      val upserted = rows.groupBy(r => (r._1, r._2))
        .map { case (k, vs) => k -> vs.map(_._3).max }
      assert(upserted === Map((1, 7L) -> 5L, (0, 3L) -> 5L))
    } finally q.stop()
  }

  test("shardPacker (state-store running totals) equals batch ShardPacking mid-source across micro-batches") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    // q101's chunk shape at sf0.001, in (source, ord) arrival order
    val chunks = graft.Tables.documentsSpread(s, "/root/testdata/sf0.001")
      .select(col("source"), col("doc_id"),
        expr("size(filter(split(lower(text), ' '), t -> t <> ''))").as("n"))
      .filter(col("n") > 0)
      .select(col("source"), col("doc_id"), col("n"),
        explode(expr("sequence(0, n - 1, 48)")).as("chunk_start"))
      .select(col("source"),
        (col("doc_id") * (1L << 20) + col("chunk_start")).as("ord"),
        least(lit(64), col("n") - col("chunk_start")).cast("long").as("n"))
    val events = chunks.as[Streams.ChunkEvent].collect().toSeq.sortBy(e => (e.source, e.ord))
    val in = MemoryStream[Streams.ChunkEvent]
    val q = Streams.shardPacker(in.toDS(), budget = 512L)
      .writeStream.format("memory").queryName("packer_out")
      .outputMode("append").start()
    try {
      // split so every source straddles the micro-batch boundary:
      // each source's first half in mb1, the rest in mb2 (ord-ordered)
      val half = events.groupBy(_.source).view.mapValues(es => es.length / 2).toMap
      val idx = events.groupBy(_.source).view
        .mapValues(_.sortBy(_.ord).zipWithIndex.toMap).toMap
      val (mb1, mb2) = events.partition(e => idx(e.source)(e) < half(e.source))
      in.addData(mb1); q.processAllAvailable()
      in.addData(mb2); q.processAllAvailable()
      val streamed = s.table("packer_out")
        .select(col("source"), col("ord"), col("shardId"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      val batch = graft.ops.ShardPacking
        .assignShards(chunks, "source", "ord", "n", budget = 512L)
        .select(col("source"), col("ord"), col("shard_id"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(streamed.nonEmpty && streamed == batch,
        "incremental state-store packing must equal the batch two-pass form")
    } finally q.stop()
  }

  test("shardPacker fails fast on out-of-order arrival instead of misassigning") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val in = MemoryStream[Streams.ChunkEvent]
    val q = Streams.shardPacker(in.toDS(), budget = 100L)
      .writeStream.format("memory").queryName("packer_ooo")
      .outputMode("append").start()
    try {
      in.addData(Streams.ChunkEvent("s", 10L, 50L))
      q.processAllAvailable()
      in.addData(Streams.ChunkEvent("s", 5L, 50L)) // ord regression
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        q.processAllAvailable()
      }
      def causes(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: causes(t.getCause)
      assert(causes(e).exists(c => Option(c.getMessage)
          .exists(_.contains("out-of-order delivery"))),
        s"expected the packing-contract failure, got: $e")
    } finally q.stop()
  }

  test("ledgerSink writes per-batch partitions; a replayed batch overwrites, not duplicates") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val dir = java.nio.file.Files.createTempDirectory("graft_ledger").toString
    val in = MemoryStream[UrlEvent]
    val q = Streams.ledgerSink(
      Streams.dedupUrls(in.toDF()), s"$dir/ledger", s"$dir/ckpt")
    try {
      in.addData(UrlEvent("u1", ts("10:00")), UrlEvent("u2", ts("10:01")))
      q.processAllAvailable()
      in.addData(UrlEvent("u2", ts("10:02")), UrlEvent("u3", ts("10:03")))
      q.processAllAvailable()
      val ledger = s.read.parquet(s"$dir/ledger")
      assert(ledger.select("url").as[String].collect().sorted === Array("u1", "u2", "u3"))
      // batch provenance recorded; the dup landed in no batch
      assert(ledger.select("batch_id").distinct().count() >= 2)
      // replay idempotence: re-running a batch's write (a foreachBatch
      // retry after partial failure) overwrites its own batch_id
      // partition instead of appending duplicates
      val batch0 = Seq(("u1", ts("10:00")), ("u2", ts("10:01")))
        .toDF("url", "ts")
      Streams.writeLedgerBatch(batch0, 0L, s"$dir/ledger")
      Streams.writeLedgerBatch(batch0, 0L, s"$dir/ledger")
      val replayed = s.read.parquet(s"$dir/ledger")
      assert(replayed.filter($"batch_id" === 0L).count() === 2)
      assert(replayed.select("url").as[String].collect().sorted === Array("u1", "u2", "u3"))
    } finally q.stop()
  }

  test("mediaDupMatcher (state-store fingerprints) equals batch q128, any split or order") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    // the SAME fingerprints the batch plan joins, via the factored stage
    val sf = "/root/testdata/sf0.001"
    val fps = graft.queries.PipelineOps.perceptualFp(s, sf,
        graft.queries.PipelineOps.nonEmptyDocCount(s, sf))
      .collect().map(r => Streams.MediaFpEvent(r.getLong(0), r.getLong(1),
        r.getSeq[Double](2).toArray)).toSeq
    val batch = graft.queries.PipelineOps.q128PerceptualDedup
      .fn(s, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2), r.getDouble(3))).toSet
    assert(batch.nonEmpty, "vacuous: no >=0.95 pairs at sf0.001")
    def run(order: Seq[Streams.MediaFpEvent], name: String): Set[(Long, Long, Double)] = {
      val in = MemoryStream[Streams.MediaFpEvent]
      val q = Streams.mediaDupMatcher(in.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        val third = math.max(1, order.size / 3)
        order.grouped(third).foreach { chunk =>
          in.addData(chunk); q.processAllAvailable()
        }
        s.table(name).collect()
          .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
      } finally q.stop()
    }
    // in-order replay, the reversed order, and three seeded random
    // permutations with random chunk boundaries — a pair's members
    // landing in different micro-batches in ANY order must yield the
    // identical match set, cosines bit-equal to the batch join
    assert(run(fps, "media_dup_fwd") === batch)
    assert(run(fps.reverse, "media_dup_rev") === batch)
    val rnd = new scala.util.Random(0xD15EA5E)
    for (t <- 1 to 3)
      assert(run(rnd.shuffle(fps), s"media_dup_rnd$t") === batch,
        s"random-order replay $t diverged")
  }

  test("mediaDupMatcher state holds one fingerprint per distinct id — the block-population bound") {
    // the round-15 state contract, asserted behaviorally: duplicates
    // and zero-norm events must never enter state, so a probe that
    // pairs with EVERYTHING (threshold below any cosine) emits exactly
    // one match per distinct prior non-zero id — if state grew per
    // DELIVERY the probe would emit per delivery
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    def fp(id: Long) = Streams.MediaFpEvent(id, 7L, Array(1.0, 2.0, id.toDouble))
    val in = MemoryStream[Streams.MediaFpEvent]
    val q = Streams.mediaDupMatcher(in.toDS(), threshold = -2.0)
      .writeStream.format("memory").queryName("media_dup_bound")
      .outputMode("update").start()
    try {
      in.addData((1L to 5L).map(fp)); q.processAllAvailable()
      in.addData((1L to 5L).map(fp)); q.processAllAvailable() // full replay: all dups
      in.addData(Seq(Streams.MediaFpEvent(6L, 7L, Array(0.0, 0.0, 0.0)), fp(3L)))
      q.processAllAvailable() // zero-norm + one more dup
      in.addData(Seq(fp(999L))); q.processAllAvailable() // the probe
      val rows = s.table("media_dup_bound").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSeq
      val probe = rows.filter(_._2 == 999L)
      assert(probe.map(_._1).sorted == (1L to 5L),
        s"probe must see exactly the 5 distinct non-zero ids, got $probe")
      // and the duplicate deliveries emitted nothing: 10 first-arrival
      // pairs among ids 1..5 plus the 5 probe pairs, nothing else
      assert(rows.size == 15 && rows.distinct.size == 15,
        s"exactly-once pair emission violated: ${rows.sorted}")
    } finally q.stop()
  }

  test("kmvTracker (state-store k-minima) converges to the driver-side sketch, any order") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    // the same 60-bit md5-derived element hashes q63 sketches, per
    // source, NOT pre-distinct (the aggregator's k-window dedups)
    val events = graft.Tables.documents(s, "/root/testdata/sf0.001")
      .select(col("source"), explode(expr("split(lower(text), ' ')")).as("t"))
      .filter(col("t") =!= "")
      .select(col("source").as("group"),
        expr("cast(conv(substring(md5(t), 1, 15), 16, 10) as bigint)").as("h"))
      .as[Streams.KmvEvent].collect().toSeq
    // independent reference: distinct-sort-take driver-side
    val expected = events.groupBy(_.group).map { case (g, es) =>
      g -> es.map(_.h).distinct.sorted.take(64)
    }
    def run(order: Seq[Streams.KmvEvent], name: String): Map[String, Seq[Long]] = {
      val in = MemoryStream[Streams.KmvEvent]
      val q = Streams.kmvTracker(in.toDS())
        .writeStream.format("memory").queryName(name)
        .outputMode("update").start()
      try {
        order.grouped(math.max(1, order.size / 3)).foreach { c =>
          in.addData(c); q.processAllAvailable()
        }
        // upsert-by-group: the LAST emitted row per group is the sketch
        s.table(name).withColumn("rn", monotonically_increasing_id())
          .collect().groupBy(_.getString(0))
          .map { case (g, rows) =>
            g -> rows.maxBy(_.getLong(2)).getSeq[Long](1).toSeq
          }
      } finally q.stop()
    }
    assert(run(events, "kmv_fwd") === expected)
    assert(run(events.reverse, "kmv_rev") === expected,
      "k-minima merge must be order-insensitive")
  }

  test("live data card: three trackers converge to batch q144 under forward AND reversed replays") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val sf = "/root/testdata/sf0.001"
    // per-doc observations via the engine's own measures (the caller's
    // pre-aggregation contract, as with lmCountTracker)
    val sfp = graft.queries.CurationOps.qualityFixedPoint(s, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val evs = graft.Tables.documents(s, sf)
      .selectExpr("source", "doc_id",
        "cast(size(filter(split(lower(text), ' '), t -> t <> '')) as long) nt",
        "n_chars", "md5(text) h")
      .collect().map { r =>
        val id = r.getLong(1); val nt = r.getLong(2)
        Streams.DocCardEvent(r.getString(0), id, nt, r.getLong(3),
          r.getString(4), sfp.getOrElse(id, 0L), sfp.contains(id))
      }.toSeq
    val words = graft.Tables.documents(s, sf)
      .selectExpr("source", "explode(filter(split(lower(text), ' '), t -> t <> '')) w")
      .collect().map(r => (r.getString(0), r.getString(1))).toSeq
    def mb(e: Seq[Streams.DocCardEvent], k: Int) = e.filter(_.docId % 3 == k)
    def runCard(batches: Seq[Seq[Streams.DocCardEvent]],
        wordBatches: Seq[Seq[(String, String)]], tag: String) = {
      val inC = MemoryStream[Streams.DocCardEvent]
      val inD = MemoryStream[Streams.DocCardEvent]
      val inW = MemoryStream[(String, String)]
      val qc = Streams.cardTracker(inC.toDS())
        .writeStream.format("memory").queryName(s"card_$tag")
        .outputMode("update").start()
      val qd = Streams.dupLoserDeltas(inD.toDS())
        .writeStream.format("memory").queryName(s"dup_$tag")
        .outputMode("append").start()
      val qw = Streams.vocabDeltas(inW.toDS())
        .writeStream.format("memory").queryName(s"vocab_$tag")
        .outputMode("append").start()
      try {
        batches.zip(wordBatches).foreach { case (b, wb) =>
          inC.addData(b); inD.addData(b); inW.addData(wb)
          qc.processAllAvailable(); qd.processAllAvailable(); qw.processAllAvailable()
        }
        // upsert = latest per source; every column is monotone so max IS last
        val card = s.table(s"card_$tag").groupBy("source")
          .agg(max("nDocs").as("nDocs"), max("nTokens").as("nTokens"),
            max("nChars").as("nChars"), max("nShort").as("nShort"),
            max("nScored").as("nScored"), max("sumSFp").as("sumSFp"))
          .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2),
            r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))).toMap
        val dup = s.table(s"dup_$tag").groupBy("source")
          .agg(sum("delta").as("d")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        val voc = s.table(s"vocab_$tag").groupBy("source")
          .agg(sum("delta").as("d")).collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        (card, dup, voc)
      } finally { qc.stop(); qd.stop(); qw.stop() }
    }
    def wmb(k: Int) = words.filter(w => math.abs(w._2.hashCode) % 3 == k)
    val fwd = runCard(Seq(mb(evs, 0), mb(evs, 1), mb(evs, 2)),
      Seq(wmb(0), wmb(1), wmb(2)), "fwd")
    val rev = runCard(Seq(mb(evs, 2).reverse, mb(evs, 1).reverse, mb(evs, 0).reverse),
      Seq(wmb(2), wmb(1), wmb(0)), "rev")
    // batch truth: q144's card
    val batch = graft.queries.CurationOps.q144SourceDatacard.fn(s, sf).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5), r.getLong(6), r.getLong(7),
        r.getDouble(8))).toMap
    for ((got, tag) <- Seq((fwd, "forward"), (rev, "reversed"))) {
      val (card, dup, voc) = got
      assert(card.keySet === batch.keySet, s"$tag: source sets differ")
      batch.foreach { case (src, (nDocs, nTok, nCh, vocab, nDup, nShort, nScored, mean)) =>
        val (cD, cT, cC, cSh, cSc, cSum) = card(src)
        assert((cD, cT, cC, cSh, cSc) === ((nDocs, nTok, nCh, nShort, nScored)), s"$tag/$src volume")
        assert(voc.getOrElse(src, 0L) === vocab, s"$tag/$src vocab")
        assert(dup.getOrElse(src, 0L) === nDup, s"$tag/$src dup burden")
        assert(cSum.toDouble / math.max(cSc, 1L).toDouble === mean, s"$tag/$src mean")
      }
    }
  }

  test("composed cardSink: readCard mid-replay equals batch q144 on the seen prefix") {
    val s = spark
    import s.implicits._
    implicit val ctx: org.apache.spark.sql.classic.SQLContext = s.sqlContext.asInstanceOf[org.apache.spark.sql.classic.SQLContext]
    val sf = "/root/testdata/sf0.001"
    val sfp = graft.queries.CurationOps.qualityFixedPoint(s, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docRows = graft.Tables.documents(s, sf).collect()
    val evs = graft.Tables.documents(s, sf)
      .selectExpr("source", "doc_id",
        "cast(size(filter(split(lower(text), ' '), t -> t <> '')) as long) nt",
        "n_chars", "md5(text) h")
      .collect().map { r =>
        val id = r.getLong(1); val nt = r.getLong(2)
        Streams.DocCardEvent(r.getString(0), id, nt, r.getLong(3),
          r.getString(4), sfp.getOrElse(id, 0L), sfp.contains(id))
      }.toSeq
    // word events must TRACK the document batches (the prefix-corpus
    // contract), unlike the whole-replay test's independent word split
    val wordsByDoc = graft.Tables.documents(s, sf)
      .selectExpr("doc_id", "source",
        "explode(filter(split(lower(text), ' '), t -> t <> '')) w")
      .collect().groupBy(_.getLong(0)).view
      .mapValues(_.map(r => (r.getString(1), r.getString(2))).toSeq).toMap
    def mb(k: Int) = evs.filter(_.docId % 3 == k)
    val tmp = java.nio.file.Files.createTempDirectory("graft_cardsink").toString
    val inC = MemoryStream[Streams.DocCardEvent]
    val inD = MemoryStream[Streams.DocCardEvent]
    val inW = MemoryStream[(String, String)]
    val qs = Streams.cardSink(inC.toDS(), inD.toDS(), inW.toDS(),
      s"$tmp/card", s"$tmp/ck")
    try {
      for (k <- 0 to 2) {
        val b = mb(k)
        inC.addData(b); inD.addData(b)
        inW.addData(b.flatMap(e => wordsByDoc.getOrElse(e.docId, Nil)))
        qs.processAllAvailable()
        // batch truth on exactly the ingested prefix: q144 over a
        // documents table holding the seen docs and nothing else
        val pDir = s"$tmp/prefix$k"
        val seen = evs.filter(_.docId % 3 <= k).map(_.docId).toSet
        val sch = graft.Tables.documents(s, sf).schema
        s.createDataFrame(
            new java.util.ArrayList(java.util.Arrays.asList(
              docRows.filter(r => seen(r.getLong(0))): _*)), sch)
          .write.mode("overwrite").parquet(s"$pDir/documents.parquet")
        val want = graft.queries.CurationOps.q144SourceDatacard.fn(s, pDir)
          .collect().map(_.toSeq).toSeq
        val gotCard = Streams.readCard(s, s"$tmp/card")
        assert(gotCard.columns.toSeq === Seq("source", "n_docs", "n_tokens",
          "n_chars", "vocab", "n_dup_losers", "n_short", "n_scored",
          "mean_quality_fp"))
        assert(gotCard.collect().map(_.toSeq).toSeq === want,
          s"mid-replay card after batch $k diverged from the prefix datasheet")
      }
      // effectively-once: re-writing the volume store's newest batch
      // through the same batch writer leaves the card bit-identical
      // (the dynamic partition overwrite replaces, never appends)
      val before = Streams.readCard(s, s"$tmp/card").collect().map(_.toSeq).toSeq
      val vol = s.read.parquet(s"$tmp/card/volume")
      // partition columns read back INT-inferred — cast before getLong
      val maxId = vol.agg(max(col("batch_id").cast("long"))).head().getLong(0)
      Streams.writeLedgerBatch(
        vol.filter(col("batch_id") === maxId).drop("batch_id"),
        maxId, s"$tmp/card/volume")
      assert(Streams.readCard(s, s"$tmp/card").collect().map(_.toSeq).toSeq
        === before, "a replayed batch changed the card")
    } finally qs.stopAll()
  }
}
