package graft.functions

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator

/** One scored item inside the top-k buffer. */
final case class Scored(key: Long, score: Double)

/** A scored item with an exact int64 score and a rider payload column
  * (q120's n_shared shape). */
final case class ScoredL(key: Long, score: Long, payload: Long)

/** Bounded-memory per-group top-k as a typed `Aggregator[IN, BUF, OUT]`
  * (the custom-UDAF surface SURVEY.md §2.6 kept in reserve) — the
  * scale-correct alternative to `row_number() OVER (PARTITION BY g ORDER
  * BY s) <= k` for top-k-per-group:
  *
  *  - the window form shuffles EVERY row to its group's partition and
  *    sorts there — O(rows) shuffle, O(rows log rows) sort;
  *  - an Aggregator gets map-side partial aggregation: each input
  *    partition reduces to at most k rows per group BEFORE the shuffle,
  *    so only O(groups × k × partitions) rows move, and merge is a
  *    k-bounded list merge.
  *
  * The buffer is a k-bounded Seq sorted by `ord` — insertion by
  * sort-take is O(k log k) with tiny constants for the k this engine
  * uses (k ≤ 100); swap in a bounded heap for large k, same contract.
  * Each subclass fixes the item type and a total, deterministic
  * ordering, so results are stable across partitionings and match a
  * `row_number`-based oracle exactly.
  */
sealed abstract class BoundedTopK[T](k: Int)
    extends Aggregator[T, Seq[T], Seq[T]] {

  protected def ord: Ordering[T]

  protected def encoder: Encoder[Seq[T]]

  override def zero: Seq[T] = Seq.empty

  override def reduce(buf: Seq[T], a: T): Seq[T] =
    // once the buffer holds k items, anything ordering at/after the
    // current k-th can neither enter nor displace — O(1) reject for
    // the overwhelming share of rows (KMinDistinctAggregator's fast
    // path: the unconditional sort-take was O(k log k) + a fresh Seq
    // PER INPUT ROW, measured 2.99 → 8.31 s on q122's k = 50
    // shortlist at sf1 before this guard). The kept inserts produce
    // the identical sorted top-k.
    if (buf.length >= k && ord.compare(a, buf.last) >= 0) buf
    else (buf :+ a).sorted(ord).take(k)

  override def merge(b1: Seq[T], b2: Seq[T]): Seq[T] =
    // both buffers are sorted by construction (zero is empty, reduce
    // and merge keep order), so merging is a linear two-pointer walk
    // bounded at k; empty sides short-circuit entirely. A merge of two
    // sorted sequences under a total order IS their sorted
    // concatenation (TopKAggregatorSpec pins the permutation
    // equivalence through this path).
    if (b1.isEmpty) b2
    else if (b2.isEmpty) b1
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[T]
      val n = math.min(k, b1.length + b2.length)
      var i = 0
      var j = 0
      while (out.length < n) {
        if (i >= b1.length) { out += b2(j); j += 1 }
        else if (j >= b2.length) { out += b1(i); i += 1 }
        else if (ord.compare(b1(i), b2(j)) <= 0) { out += b1(i); i += 1 }
        else { out += b2(j); j += 1 }
      }
      out.toSeq
    }

  override def finish(reduction: Seq[T]): Seq[T] = reduction

  override def bufferEncoder: Encoder[Seq[T]] = encoder

  override def outputEncoder: Encoder[Seq[T]] = encoder
}

/** Top-k of double-scored keys, ordered score DESC, key ASC.
  *
  * PRECONDITION: scores must be non-NaN. Scala's total
  * order sorts NaN greatest, so under `(-score, key)` a NaN-scored row
  * ranks LAST, whereas the Spark windows these conversions replace
  * (`ORDER BY score DESC`, NaN largest) rank NaN FIRST. Every
  * conversion site feeds finite scores (cosines of non-zero-norm
  * vectors, exact-integer dots, positive-denominator BM25 terms); a
  * site that could see NaN must map it explicitly before aggregating.
  */
final class TopKAggregator(k: Int) extends BoundedTopK[Scored](k) {
  protected val ord: Ordering[Scored] =
    Ordering.by((s: Scored) => (-s.score, s.key))
  protected def encoder: Encoder[Seq[Scored]] = ExpressionEncoder()
}

/** [[TopKAggregator]] with an EXACT INT64 score and a rider payload —
  * the q120/q121-sparse shape, where the match score is a pure-integer
  * accumulator whose ties past 2^53 a double-typed buffer could
  * misorder. Ordering (score DESC, key ASC) is compared on the longs
  * directly (no negation — Long.MinValue-safe), so the output matches
  * `row_number() OVER (ORDER BY score DESC, key ASC) <= k` exactly at
  * ANY int64 magnitude.
  */
final class TopKLongAggregator(k: Int) extends BoundedTopK[ScoredL](k) {
  protected val ord: Ordering[ScoredL] = new Ordering[ScoredL] {
    override def compare(a: ScoredL, b: ScoredL): Int = {
      val c = java.lang.Long.compare(b.score, a.score) // score DESC
      if (c != 0) c else java.lang.Long.compare(a.key, b.key) // key ASC
    }
  }
  protected def encoder: Encoder[Seq[ScoredL]] = ExpressionEncoder()
}

/** The k smallest DISTINCT longs per group — the KMV sketch's collection
  * step (q63) as a bounded-memory typed Aggregator. Same scale argument
  * as [[TopKAggregator]] (each map partition reduces to ≤ k values per
  * group before the shuffle; merge is a k-bounded distinct-merge), plus
  * the KMV-specific property that the buffer IS the sketch: mergeable
  * (union = merge of buffers), and when |buffer| < k after all input the
  * sketch holds the whole distinct set (the degenerate exact case).
  */
final class KMinDistinctAggregator(k: Int)
    extends Aggregator[Long, Seq[Long], Seq[Long]] {

  override def zero: Seq[Long] = Seq.empty

  override def reduce(buf: Seq[Long], x: Long): Seq[Long] =
    // once the buffer holds k minima, anything >= the current k-th
    // minimum can neither enter nor displace — O(1) reject for the
    // overwhelming share of rows on uniform-hash input, which is what
    // lets the UN-deduplicated stream feed this directly (q97)
    if (buf.length >= k && x >= buf.last) buf
    else if (buf.contains(x)) buf
    else ((buf :+ x).sorted.take(k))

  override def merge(b1: Seq[Long], b2: Seq[Long]): Seq[Long] =
    // buffers are sorted-distinct by construction; a linear two-pointer
    // merge that skips equal heads (the BoundedTopK.merge walk).
    // Identical output: the union's k smallest, ascending.
    if (b1.isEmpty) b2
    else if (b2.isEmpty) b1
    else {
      val out = scala.collection.mutable.ArrayBuffer.empty[Long]
      var i = 0
      var j = 0
      while (out.length < k && (i < b1.length || j < b2.length)) {
        if (i >= b1.length) { out += b2(j); j += 1 }
        else if (j >= b2.length) { out += b1(i); i += 1 }
        else if (b1(i) < b2(j)) { out += b1(i); i += 1 }
        else if (b1(i) > b2(j)) { out += b2(j); j += 1 }
        else { out += b1(i); i += 1; j += 1 } // equal heads: keep one
      }
      out.toSeq
    }

  override def finish(reduction: Seq[Long]): Seq[Long] = reduction

  override def bufferEncoder: Encoder[Seq[Long]] = ExpressionEncoder()

  override def outputEncoder: Encoder[Seq[Long]] = ExpressionEncoder()
}
