package graft.functions

import org.scalatest.funsuite.AnyFunSuite

/** Pins TopKAggregator's buffer algebra against a brute-force
  * reference — added in round 21 when the O(1) fast-reject landed in
  * `reduce` (the unconditional sort-take was O(k log k) + a fresh Seq
  * per input row). The reject path must be output-invisible: any
  * element ordering at/after the current k-th can neither enter nor
  * displace, so the final sorted top-k is identical.
  */
class TopKAggregatorSpec extends AnyFunSuite {

  private def ref(xs: Seq[Scored], k: Int): Seq[Scored] =
    xs.sortBy(s => (-s.score, s.key)).take(k)

  test("reduce stream == brute-force top-k, every insertion order, ties included") {
    val k = 3
    val agg = new TopKAggregator(k)
    // duplicate scores force the key tie-break through the reject path
    val xs = Seq(
      Scored(7L, 0.5), Scored(1L, 0.9), Scored(9L, 0.5), Scored(2L, 0.9),
      Scored(5L, 0.1), Scored(3L, 0.9), Scored(8L, 0.5), Scored(4L, 1.2))
    xs.permutations.take(200).foreach { p =>
      val got = p.foldLeft(agg.zero)(agg.reduce)
      assert(got === ref(xs, k), s"order $p")
    }
  }

  test("merge of partial buffers == brute-force over the union") {
    val k = 5
    val agg = new TopKAggregator(k)
    val rnd = new scala.util.Random(21)
    val xs = Seq.fill(200)(Scored(rnd.nextLong(1000), rnd.nextInt(40) / 7.0))
      .distinctBy(_.key)
    val (a, b) = xs.splitAt(xs.size / 3)
    val bufA = a.foldLeft(agg.zero)(agg.reduce)
    val bufB = b.foldLeft(agg.zero)(agg.reduce)
    assert(agg.finish(agg.merge(bufA, bufB)) === ref(xs, k))
  }

  test("fewer than k inputs keep everything, sorted") {
    val agg = new TopKAggregator(10)
    val xs = Seq(Scored(3L, 0.2), Scored(1L, 0.8), Scored(2L, 0.2))
    assert(xs.foldLeft(agg.zero)(agg.reduce) === ref(xs, 10))
  }

  // ---- round-22 merge fast paths (linear two-pointer walk + empty
  // short-circuits replacing the concat-sort): the permutation sweep
  // re-run THROUGH merge, including the empty-side, disjoint-range
  // (one side fully rejects) and interleaved-tie cases.

  test("merge == brute-force union for every split of a tie-heavy stream") {
    val k = 3
    val agg = new TopKAggregator(k)
    val xs = Seq(
      Scored(7L, 0.5), Scored(1L, 0.9), Scored(9L, 0.5), Scored(2L, 0.9),
      Scored(5L, 0.1), Scored(3L, 0.9), Scored(8L, 0.5), Scored(4L, 1.2))
    xs.permutations.take(100).foreach { p =>
      (0 to p.length).foreach { cut =>
        val (a, b) = p.splitAt(cut) // cut=0 / length hit the empty paths
        val bufA = a.foldLeft(agg.zero)(agg.reduce)
        val bufB = b.foldLeft(agg.zero)(agg.reduce)
        assert(agg.merge(bufA, bufB) === ref(xs, k), s"order $p cut $cut")
        assert(agg.merge(bufB, bufA) === ref(xs, k), s"order $p cut $cut swapped")
      }
    }
  }

  test("merge where one buffer dominates entirely (all of b2 rejects)") {
    val k = 4
    val agg = new TopKAggregator(k)
    val hi = (1L to 6L).map(i => Scored(i, 10.0 + i))
    val lo = (10L to 16L).map(i => Scored(i, 1.0 + i * 0.1))
    val bufHi = hi.foldLeft(agg.zero)(agg.reduce)
    val bufLo = lo.foldLeft(agg.zero)(agg.reduce)
    assert(agg.merge(bufHi, bufLo) === ref(hi ++ lo, k))
    assert(agg.merge(bufLo, bufHi) === ref(hi ++ lo, k))
  }

  test("TopKLongAggregator: exact int64 order past 2^53, Long.MinValue-safe") {
    val k = 3
    val agg = new TopKLongAggregator(k)
    // 2^53 and 2^53 + 1 collapse to the same Double — a double-scored
    // buffer would tie them (then mis-resolve by key); the long path
    // must rank them exactly. Long.MinValue would overflow a negation
    // trick.
    val big = 1L << 53
    val xs = Seq(
      ScoredL(5L, big, 50L), ScoredL(4L, big + 1L, 40L),
      ScoredL(6L, big - 1L, 60L), ScoredL(9L, Long.MinValue, 90L),
      ScoredL(1L, big + 1L, 10L), ScoredL(2L, 7L, 20L))
    def refL(ys: Seq[ScoredL]): Seq[ScoredL] =
      ys.sortWith { (a, b) =>
        if (a.score != b.score) a.score > b.score else a.key < b.key
      }.take(k)
    xs.permutations.take(100).foreach { p =>
      (0 to p.length).foreach { cut =>
        val (a, b) = p.splitAt(cut)
        val got = agg.merge(a.foldLeft(agg.zero)(agg.reduce),
          b.foldLeft(agg.zero)(agg.reduce))
        assert(got === refL(xs), s"order $p cut $cut")
      }
    }
    assert(refL(xs).take(2) === Seq(ScoredL(1L, big + 1L, 10L), ScoredL(4L, big + 1L, 40L)))
  }

  test("KMinDistinctAggregator merge: sorted-distinct union under every split") {
    val k = 4
    val agg = new KMinDistinctAggregator(k)
    // overlap between the two sides exercises the equal-heads skip
    val xs = Seq(9L, 3L, 7L, 3L, 1L, 9L, 5L, 1L, 8L)
    def refD(ys: Seq[Long]): Seq[Long] = ys.distinct.sorted.take(k)
    xs.permutations.take(100).foreach { p =>
      (0 to p.length).foreach { cut =>
        val (a, b) = p.splitAt(cut)
        val got = agg.merge(a.foldLeft(agg.zero)(agg.reduce),
          b.foldLeft(agg.zero)(agg.reduce))
        assert(got === refD(xs), s"order $p cut $cut")
      }
    }
  }
}
