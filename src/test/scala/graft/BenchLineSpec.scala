package graft

import org.scalatest.funsuite.AnyFunSuite

/** Size contract for the bench artifact (round-9 verdict #2).
  *
  * The driver keeps only the LAST ~2000 characters of Bench's stdout and
  * parses the JSON line out of that tail; a line that outgrows the window
  * loses its HEAD and the parse fails silently — the gate evidence
  * vanishes with no error anywhere. At ~12 bytes per query the registry
  * would have crossed the cliff near ~150 queries. This spec renders the
  * line through the real serializer at the LIVE registry size with
  * worst-plausible field widths, so registry growth trips a test instead
  * of truncating the artifact.
  */
class BenchLineSpec extends AnyFunSuite {

  test("bench JSON line fits the driver tail window with >= 25 queries of headroom") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    // worst-plausible widths: every query 2-decimal double digits (no
    // registered query has ever exceeded 13 s warm; 99.99 is the widest
    // a 2-decimal sub-100 value renders), gate fired, huge GC figure
    val results = names.map(_ -> 99.99)
    // worst-plausible spin trail (round-15 advice: the default Nil hid
    // ~50 B of live entries from this contract): floor + initial + 3
    // spin-gate retries + warmup + 4 timed passes (3 + 1 history
    // retry) = up to 10 parallel entries, 7 digits each under extreme
    // contention; retry fields at their widest
    val spins = Seq.fill(10)(9999999L)
    val line = Bench.renderLine(results, Map.empty, "/root/testdata/sf0.1",
      Array(99.99, 99.99, 99.99), Some(99.99), 99.99, 3, 9999999L, 4, spins,
      spinThreads = 32, spinFloor = 9999999L, histBest = 9999.99,
      retried = 1, preRetryTotal = 99999.99)
    // round-12 contract: the line's queries map is bounded (top-K +
    // failures), so its size must be nearly INVARIANT in registry
    // growth — 25 more queries may add bytes only through n_queries'
    // digits, never 12 B/query (the old cliff)
    assert(line.length <= 1843 - 25 * 12,
      s"bench line is ${line.length} B at the live registry size — " +
        "under 25 queries of 12 B/query headroom against the driver's " +
        "~2000-char tail window; shorten the serialization")
    assert(!line.contains(" "), "bench line must contain no spaces")
    val grown = Bench.renderLine(
      results ++ (1 to 200).map(i => s"q${i + 900}_future" -> 99.99),
      Map.empty, "/root/testdata/sf0.1",
      Array(99.99, 99.99, 99.99), Some(99.99), 99.99, 3, 9999999L, 4, spins,
      spinThreads = 32, spinFloor = 9999999L, histBest = 9999.99,
      retried = 1, preRetryTotal = 99999.99)
    assert(grown.length <= line.length + 4,
      s"line grew ${grown.length - line.length} B for 200 extra queries — " +
        "the top-K bound is not holding")
  }

  test("failures always surface in the line, even when fast; detail file carries every query") {
    val results = (1 to 60).map(i => f"q$i%03d_x" -> i / 10.0) :+
      ("q999_broken" -> -1.0)
    val line = Bench.renderLine(results, Map("q999_broken" -> "boom"),
      "sf", Array(1.0, 1.0, 1.0), None, 1.0, 0, 0L, 2)
    assert(line.contains("\"q999\":-1"),
      "a failed query (fast by -1 sentinel) fell out of the top-K line")
    assert(line.contains("\"n_queries\":61"))
    // slowest survive, fastest are elided from the LINE...
    assert(line.contains("\"q060\":6"))
    assert(!line.contains("\"q001\""))
    // ...but the detail artifact keeps all of them at full names
    val detail = Bench.renderDetail(results, "sf", 0L, 2)
    assert(detail.contains("\"q001_x\":0.1") && detail.contains("\"q999_broken\":-1"))
  }

  test("qNN key prefixes are unique — the compaction that makes the line fit") {
    val names = SparkEntry.queries.keys.toSeq
    val prefixes = names.map(_.takeWhile(_ != '_'))
    assert(prefixes.distinct.size === names.size,
      s"duplicate short keys: ${prefixes.diff(prefixes.distinct).distinct}")
  }

  test("renderLine emits valid JSON shape (balanced, parseable fields)") {
    val line = Bench.renderLine(
      Seq("q01_pricing_summary" -> 1.234, "q99_hll_distinct" -> -1.0),
      Map("q99_hll_distinct" -> "boom \"quoted\"\nline"),
      "/root/testdata/sf0.01", Array(0.5, 0.4, 0.3), None, 0.6, 0, 123L, 2)
    // structural sanity without a JSON library: balanced braces/quotes,
    // the failure value preserved, escapes applied
    assert(line.count(_ == '{') === line.count(_ == '}'))
    assert(line.contains("\"q01\":1.23"))
    assert(line.contains("\"q99\":-1"))
    assert(line.contains("\\\"quoted\\\""))
    assert(line.contains("\\n"))
    assert(!line.contains("load_pregate"), "pregate field only when gate fired")
    val gatedLine = Bench.renderLine(Seq("q01_x" -> 1.0), Map.empty, "sf",
      Array(2.0, 1.0, 0.5), Some(2.5), 1.0, 1, 0L, 2)
    assert(gatedLine.contains("\"load_pregate\":2.5"))
    // new gate-evidence fields: spin threads/floor + history floor
    // always present; retry evidence only when a retry fired
    assert(gatedLine.contains("\"spin_t\":32"))
    assert(gatedLine.contains("\"spin_floor\":-1"))
    assert(gatedLine.contains("\"hist_best\":-1"))
    assert(!gatedLine.contains("retried"), "retry fields only when retried>0")
    val retriedLine = Bench.renderLine(Seq("q01_x" -> 1.0), Map.empty, "sf",
      Array(2.0, 1.0, 0.5), None, 1.0, 0, 0L, 4, Seq(210L, 230L),
      spinThreads = 16, spinFloor = 208L, histBest = 89.7,
      retried = 1, preRetryTotal = 131.52)
    assert(retriedLine.contains("\"spin_t\":16"))
    assert(retriedLine.contains("\"spin_floor\":208"))
    assert(retriedLine.contains("\"hist_best\":89.7"))
    assert(retriedLine.contains("\"retried\":1"))
    assert(retriedLine.contains("\"pre_retry_total\":131.52"))
  }

  test("historyBest picks the min clean same-shape total, skipping other sfs, sizes, failed and malformed lines") {
    val dir = java.nio.file.Files.createTempDirectory("benchhist")
    val p = dir.resolve("BENCH_HISTORY.jsonl")
    val lines = Seq(
      // clean matches: 92.7 and 89.7 → best 89.7
      """{"ts":1,"metric":"total","value":92.7,"unit":"sec","n_queries":129,"queries":{},"errors":{},"n_failed":0,"sf":"/data/sf0.1","load":[0.1,0.1,0.1],"load_end":0.1,"gated":0,"gc_ms":2100,"spin_ms":[210],"spin_t":32,"passes":2}""",
      """{"ts":2,"metric":"total","value":89.7,"unit":"sec","n_queries":129,"queries":{},"errors":{},"n_failed":0,"sf":"/data/sf0.1","load":[0.1,0.1,0.1],"load_end":0.1,"gated":0,"gc_ms":2100,"spin_ms":[210],"spin_t":32,"passes":2}""",
      // wrong sf (the sf1 decade run), wrong registry size, a failed
      // run with a suspiciously low total, and plain garbage — all skip
      """{"ts":3,"metric":"total","value":23.0,"unit":"sec","n_queries":129,"queries":{},"errors":{},"n_failed":0,"sf":"/tmp/sf1","load":[0.1,0.1,0.1],"load_end":0.1,"gated":0,"gc_ms":2,"spin_ms":[],"spin_t":32,"passes":2}""",
      """{"ts":4,"metric":"total","value":0.63,"unit":"sec","n_queries":1,"queries":{},"errors":{},"n_failed":0,"sf":"/data/sf0.1","load":[0.1,0.1,0.1],"load_end":0.1,"gated":0,"gc_ms":2,"spin_ms":[],"spin_t":32,"passes":2}""",
      """{"ts":5,"metric":"total","value":11.0,"unit":"sec","n_queries":129,"queries":{},"errors":{"q01":"boom"},"n_failed":1,"sf":"/data/sf0.1","load":[0.1,0.1,0.1],"load_end":0.1,"gated":0,"gc_ms":2,"spin_ms":[],"spin_t":32,"passes":2}""",
      """not json at all""")
    java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    val h = Bench.qsetHash(Seq("q01_x"))
    assert(Bench.historyBest(p, "/data/sf0.1", 129, h,
      fullRegistry = true, threads = 32) === 89.7)
    assert(Bench.historyBest(p, "/data/sf0.1", 7, h,
      fullRegistry = true, threads = 32) === -1.0,
      "no same-shape record → -1 (retry gate disabled)")
    assert(Bench.historyBest(dir.resolve("missing.jsonl"),
      "/data/sf0.1", 129, h, fullRegistry = true, threads = 32) === -1.0,
      "missing file → -1, no throw")
  }

  test("historyBest query-set identity: qset lines must match; legacy lines only for full-registry runs") {
    // round-17 find: a q128-solo run at /tmp/sf1 retried against a
    // 1.21 s floor from some OTHER query's legacy solo line —
    // (sf, n_queries=1) is not an identity. qset pins the set; legacy
    // qset-less lines stay usable only for full-registry runs.
    val dir = java.nio.file.Files.createTempDirectory("benchhistq")
    val p = dir.resolve("BENCH_HISTORY.jsonl")
    val hQ128 = Bench.qsetHash(Seq("q128_perceptual_dedup"))
    val hQ107 = Bench.qsetHash(Seq("q107_graph_pagerank"))
    val lines = Seq(
      // legacy solo line (no qset) — must NOT floor any solo run
      s"""{"ts":1,"metric":"total","value":1.21,"unit":"sec","n_queries":1,"queries":{},"errors":{},"n_failed":0,"sf":"/tmp/sf1","load":[0.1,0.1,0.1],"load_end":0.1,"gated":0,"gc_ms":2,"spin_ms":[],"spin_t":32,"passes":2}""",
      // qset-bearing solo lines for two different queries
      s"""{"ts":2,"metric":"total","value":2.13,"unit":"sec","n_queries":1,"qset":"$hQ128","queries":{},"errors":{},"n_failed":0,"sf":"/tmp/sf1","load":[0.1,0.1,0.1],"load_end":0.1,"gated":0,"gc_ms":2,"spin_ms":[],"spin_t":32,"passes":2}""",
      s"""{"ts":3,"metric":"total","value":0.95,"unit":"sec","n_queries":1,"qset":"$hQ107","queries":{},"errors":{},"n_failed":0,"sf":"/tmp/sf1","load":[0.1,0.1,0.1],"load_end":0.1,"gated":0,"gc_ms":2,"spin_ms":[],"spin_t":32,"passes":2}""",
      // legacy FULL-registry line — still honored for full runs
      s"""{"ts":4,"metric":"total","value":59.93,"unit":"sec","n_queries":130,"queries":{},"errors":{},"n_failed":0,"sf":"/data/sf0.1","load":[0.1,0.1,0.1],"load_end":0.1,"gated":0,"gc_ms":2,"spin_ms":[],"spin_t":32,"passes":2}""")
    java.nio.file.Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    // a q128-solo run sees ONLY its own qset line (2.13), never the
    // legacy 1.21 or q107's 0.95
    assert(Bench.historyBest(p, "/tmp/sf1", 1, hQ128,
      fullRegistry = false, threads = 32) === 2.13)
    assert(Bench.historyBest(p, "/tmp/sf1", 1, hQ107,
      fullRegistry = false, threads = 32) === 0.95)
    // a full-registry run still inherits the legacy qset-less floor
    val hFull = Bench.qsetHash((1 to 130).map(i => s"q${i}_x"))
    assert(Bench.historyBest(p, "/data/sf0.1", 130, hFull,
      fullRegistry = true, threads = 32) === 59.93)
    // ...but a 130-query SUBSET-shaped run that is not the registry
    // does not (fullRegistry=false rejects qset-less lines)
    assert(Bench.historyBest(p, "/data/sf0.1", 130, hFull,
      fullRegistry = false, threads = 32) === -1.0)
  }

  test("historyBest keys on the thread count: a narrower run never floors on a wider host's line") {
    val dir = java.nio.file.Files.createTempDirectory("benchhistt")
    val p = dir.resolve("BENCH_HISTORY.jsonl")
    val h = Bench.qsetHash((1 to 146).map(i => s"q${i}_x"))
    def line(v: Double, spinT: String) =
      s"""{"ts":1,"metric":"total","value":$v,"unit":"sec","n_queries":146,"qset":"$h","queries":{},"errors":{},"n_failed":0,"sf":"/data/sf0.1","load":[0.1,0.1,0.1],"load_end":0.1,"gated":0,"gc_ms":2,"spin_ms":[210],$spinT"passes":2}"""
    java.nio.file.Files.write(p, Seq(
      line(61.42, "\"spin_t\":32,\"spin_floor\":180,"),
      line(53.39, "\"spin_t\":8,\"spin_floor\":180,"),
      line(111.3, "\"spin_t\":4,\"spin_floor\":180,"),
      // no thread count: unknowable host, never a floor
      line(40.0, "")).mkString("\n").getBytes("UTF-8"))
    def best(threads: Int) = Bench.historyBest(p, "/data/sf0.1", 146, h,
      fullRegistry = true, threads = threads)
    assert(best(4) === 111.3, "a 4-thread run must not compare with the local[32] floor")
    assert(best(8) === 53.39)
    assert(best(32) === 61.42)
    assert(best(16) === -1.0, "no same-thread record → -1 (retry gate disabled)")
  }

  test("qsetHash is order-insensitive and name-sensitive") {
    assert(Bench.qsetHash(Seq("a", "b")) === Bench.qsetHash(Seq("b", "a")))
    assert(Bench.qsetHash(Seq("a", "b")) !== Bench.qsetHash(Seq("a", "c")))
    assert(Bench.qsetHash(Seq("a")).matches("[0-9a-f]{8}"))
  }
}
