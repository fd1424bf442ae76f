package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Static kernels for the vector-distance hot paths (k-means
  * assignment, IVF routing, PQ, cosine codebook assignment). Each is
  * called through a [[GraftFunctions]] handle's `StaticInvoke`, so
  * generated code and interpreted eval run this one implementation.
  *
  * Why native: each kernel replaces an interpreted higher-order-function
  * chain (`aggregate`/`transform`/`zip_with`), which runs one lambda
  * dispatch per element outside whole-stage codegen and allocates the
  * intermediate arrays; the kernel is one primitive loop inside the
  * codegen stage.
  *
  * Numeric contract (the cross-engine-exactness invariant of the whole
  * clustering family): every fold is LEFT-TO-RIGHT from +0.0 — the
  * `aggregate(zip_with(...), 0D, (s,x) -> s+x)` order and DuckDB's
  * `list_reduce(list_transform(...))` (0.0 + x == x), so results are
  * bit-identical to both. Every argmin is strict `<` scanning candidates
  * in array order — first minimum wins, which over a (cid ASC)-sorted
  * codebook is exactly the `(dist ASC, cid ASC)` tie rule of the HOF
  * fold and the oracle's ROW_NUMBER.
  *
  * Null rule: a null ARRAY argument gives a null result (the handle's
  * `StaticInvoke` propagates it before the kernel runs).
  */
object VecDistKernels {

  /** `l2sq(array<bigint>, array<double>): double` — squared L2 between
    * a 2^24-quantized coordinate vector and a double centroid (KMeans
    * distExpr's semantics): Σ_i ((double) a(i) − b(i))², left-to-right,
    * over the common prefix. Callers pass dense equal-length arrays. */
  def l2sqLD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0d
    var i = 0
    while (i < n) {
      val d = a.getLong(i).toDouble - b.getDouble(i)
      s += d * d
      i += 1
    }
    s
  }

  /** `l2argmin(xq, cs: array<struct<cid:int, mu:array<double>>>)
    * : struct<d:double, c:int>` — the whole k-means assignment step:
    * argmin of l2sqLD(xq, cs(j).mu) over j in array order, returned as
    * (d, c = cs(j).cid). Empty cs → (+Inf, −1), the HOF fold's seed.
    * Replaces the `aggregate(transform(cs, ...), named_struct(...),
    * IF(...))` chain (~0.4 s per corpus×k×dim scan at sf0.1). */
  def l2argmin(xq: ArrayData, cs: ArrayData): InternalRow = {
    var bd = Double.PositiveInfinity
    var bc = -1
    val k = cs.numElements()
    var j = 0
    while (j < k) {
      val ct = cs.getStruct(j, 2)
      val d = l2sqLD(xq, ct.getArray(1))
      if (d < bd) { bd = d; bc = ct.getInt(0) }
      j += 1
    }
    new GenericInternalRow(Array[Any](bd, bc))
  }

  /** `dot(array<double>, array<double>): double` — Σ_i a(i)·b(i),
    * left-to-right from +0.0: bit-identical to the
    * `aggregate(zip_with(a, b, (x,y) -> x*y), 0d, (s,x) -> s+x)` chain
    * and the DuckDB oracle for NULL-FREE arrays (every embedding
    * caller). Shared by [[cosArgmax]], so its per-candidate cosine is
    * bit-identical to a `dot(v, cv) / (nrm * cn)` column.
    *
    * Where it DIVERGES from the HOF chain: a null ELEMENT contributes
    * 0.0 (a missing term) where the chain's `s + (x*y)` would null the
    * total; callers that want poisoning pre-check with
    * `exists(v, x -> x IS NULL)`. Lengths may differ; the common
    * prefix is summed. */
  def dotDD(a: ArrayData, b: ArrayData): Double = {
    val n = math.min(a.numElements(), b.numElements())
    var s = 0.0d
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i) && !b.isNullAt(i))
        s += a.getDouble(i) * b.getDouble(i)
      i += 1
    }
    s
  }

  /** `cos_argmax(v, nrm, cs: array<struct<cid:bigint, cv:array<double>,
    * cn:double>>): struct<cid:bigint, cos:double>` — the cosine
    * codebook assignment as one map-side projection: argmax of
    * dotDD(v, cs(j).cv) / (nrm * cs(j).cn) over j in array order,
    * returned as (cid, winning cosine). It replaces an exploded
    * corpus×K broadcast join + row_number window + join-back with the
    * same K dot products per row and no corpus exchange.
    *
    * Tie/NaN rule replicates `row_number() OVER (ORDER BY cos DESC, cid
    * ASC)` under Spark's double ordering: NaN sorts ABOVE +Inf, NaN ==
    * NaN, −0.0 == 0.0 — candidate j is kept only when its cosine is
    * STRICTLY greater under that ordering, which over a cid-sorted array
    * yields the smallest cid among the maxima, the window's rn = 1 row.
    * Empty cs → (−1, NaN): callers filter the empty-codebook corpus to
    * the empty frame first, the inner-join semantics of the window form.
    * A null v or nrm gives a null result where the window (null cos
    * sorts last under DESC) still assigned the smallest cid, so callers
    * pass dense non-null vectors. */
  def cosArgmax(v: ArrayData, nrm: Double, cs: ArrayData): InternalRow = {
    var best = Double.NaN
    var bc = -1L
    var has = false
    val k = cs.numElements()
    var j = 0
    while (j < k) {
      val ct = cs.getStruct(j, 3)
      val c = dotDD(v, ct.getArray(1)) / (nrm * ct.getDouble(2))
      // nan-safe strict ">" matching Spark's sort order on doubles
      val gt =
        if (java.lang.Double.isNaN(c)) !java.lang.Double.isNaN(best)
        else if (java.lang.Double.isNaN(best)) false
        else c > best
      if (!has || gt) { best = c; bc = ct.getLong(0); has = true }
      j += 1
    }
    new GenericInternalRow(Array[Any](bc, best))
  }

  /** `pq_encode(vec, cbl: array<struct<jj:int, cid:int,
    * mu:array<double>>>): array<int>` — product-quantization encode:
    * for each subspace jj in 0..sub−1, the cid of the codeword
    * minimizing the left-to-right-from-+0.0 fold of (x_i − mu_i)² over
    * the jj-th dsub-slice of `vec`, codewords scanned in array order
    * within cbl[jj·k .. jj·k+k−1] with strict `<` from a +Inf seed —
    * exactly the `aggregate(transform(slice(cbl, jj*k+1, k), ...),
    * named_struct('d', Inf, 'c', -1), (acc, en) -> IF(en.d < acc.d, en,
    * acc))` chain it replaces (first minimum wins ⇒ the (dist ASC, cid
    * ASC) tie rule over the sort_array'd codebook). `fromLong` reads
    * vec as long (q119's quantized xq, `cast(a as double) − b`) or
    * double (q122's residual r); sub/dsub/k are the codebook geometry.
    *
    * Throws when vec.length != sub·dsub, a codeword's mu.length !=
    * dsub or cbl does not hold sub·k codewords: the zip_with chain
    * null-padded a short vector and skipped the candidate, where a
    * clamped loop would silently score a partial distance (and an
    * UnsafeArrayData read past a short codebook returns garbage). Both
    * sides come from the same geometry projections, so a mismatch means
    * a malformed embedding. */
  def pqEncode(vec: ArrayData, cbl: ArrayData, sub: Int, dsub: Int,
      k: Int, fromLong: Boolean): ArrayData = {
    if (vec.numElements() != sub * dsub) throw new IllegalArgumentException(
      s"pq_encode: vector length ${vec.numElements()} != sub*dsub = ${sub * dsub}")
    if (cbl.numElements() != sub * k) throw new IllegalArgumentException(
      s"pq_encode: codebook holds ${cbl.numElements()} codewords != sub*k = ${sub * k}")
    val out = new Array[Int](sub)
    var jj = 0
    while (jj < sub) {
      var bd = Double.PositiveInfinity
      var bc = -1
      val off = jj * dsub
      var c = 0
      while (c < k) {
        val ct = cbl.getStruct(jj * k + c, 3)
        val mu = ct.getArray(2)
        if (mu.numElements() != dsub) throw new IllegalArgumentException(
          s"pq_encode: codeword (jj=$jj, cid=${ct.getInt(1)}) length " +
            s"${mu.numElements()} != dsub = $dsub")
        var s = 0.0d
        var i = 0
        while (i < dsub) {
          val a = if (fromLong) vec.getLong(off + i).toDouble
                  else vec.getDouble(off + i)
          val d = a - mu.getDouble(i)
          s += d * d
          i += 1
        }
        if (s < bd) { bd = s; bc = ct.getInt(1) }
        c += 1
      }
      out(jj) = bc
      jj += 1
    }
    new GenericArrayData(out)
  }

  /** `pq_adc(codes: array<int>, qdt: array<array<double>>): double` —
    * the asymmetric-distance lookup sum Σ_jj qdt(jj)(codes(jj)), jj
    * ascending, left-to-right from +0.0 — exactly
    * `aggregate(sequence(0, sub-1), 0D, (s, jj) -> s +
    *  element_at(element_at(qdt, jj+1), element_at(codes, jj+1)+1))`.
    * Negative codes (pqEncode's empty-codebook/all-NaN sentinel −1)
    * THROW rather than read out of bounds: on UnsafeArrayData a raw
    * getDouble(−1) returns garbage silently, where the element_at chain
    * raised an error. Unreachable with sane codebook geometry (k > 0,
    * finite centroids). */
  def pqAdc(codes: ArrayData, qdt: ArrayData): Double = {
    var s = 0.0d
    var jj = 0
    val n = codes.numElements()
    while (jj < n) {
      val c = codes.getInt(jj)
      if (c < 0) throw new IllegalStateException(
        s"pq_adc: negative code $c at subspace $jj (empty or all-NaN codebook slice?)")
      s += qdt.getArray(jj).getDouble(c)
      jj += 1
    }
    s
  }

  /** Element i of a float or double vector, widened to double (float →
    * double widening is exact, so reading the raw float column is
    * bit-identical to a `transform(v, x -> cast(x as double))` first). */
  private def at(v: ArrayData, i: Int, fromFloat: Boolean): Double =
    if (fromFloat) v.getFloat(i).toDouble else v.getDouble(i)

  /** max |v_i| of a non-empty vector under Spark's double ordering (NaN
    * greatest). A null element throws: the HOF chains the quantize
    * kernels replace null-propagate it, which no single scale or code
    * can reproduce. */
  private def absMax(v: ArrayData, fromFloat: Boolean, kernel: String): Double = {
    var scale = 0.0d
    var i = 0
    while (i < v.numElements()) {
      if (v.isNullAt(i)) throw new IllegalArgumentException(
        s"$kernel: null element at index $i")
      val a = java.lang.Math.abs(at(v, i, fromFloat))
      val gt =
        if (java.lang.Double.isNaN(a)) !java.lang.Double.isNaN(scale)
        else if (java.lang.Double.isNaN(scale)) false
        else a > scale
      if (i == 0 || gt) scale = a
      i += 1
    }
    scale
  }

  /** `quantize_vec(v: array<float>|array<double>): struct<v:array<double>,
    * scale:double, q:array<double>, nrm:double>` — q108's per-vector
    * quantization prep in one pass: the double-widened vector v, scale =
    * max |v_i| (Spark double ordering, NaN greatest), the int8 codes q_i
    * = floor(v_i / scale · 127) kept as double (the downstream integer
    * dot rides `dot` on doubles, exact under 2^53), and nrm = √(Σ v_i²,
    * the `dot(v, v)` fold). Every per-element IEEE sequence matches the
    * `transform(cast)` / `array_max(transform(abs))` /
    * `transform(floor-chain)` / `sqrt(dot)` chain it replaces, so all
    * four outputs are bit-identical; QuantizeVecSpec pins it on the
    * parquet-backed column. q is computed unconditionally — on scale ≤ 0
    * or NaN rows it holds the NaN/±Inf the chain would have produced had
    * the caller's `scale > 0` filter not dropped the row first. Empty v
    * → null (array_max(empty) is null, so the chain's scale filter
    * dropped the row the same way). A null element throws. */
  def quantizeVec(v: ArrayData, fromFloat: Boolean): InternalRow = {
    val n = v.numElements()
    if (n == 0) return null
    val scale = absMax(v, fromFloat, "quantize_vec")
    val dv = new Array[Double](n)
    var i = 0
    while (i < n) {
      dv(i) = at(v, i, fromFloat)
      i += 1
    }
    val q = new Array[Double](n)
    i = 0
    while (i < n) {
      q(i) = java.lang.Math.floor(dv(i) / scale * 127.0)
      i += 1
    }
    var s = 0.0d
    i = 0
    while (i < n) {
      s += dv(i) * dv(i)
      i += 1
    }
    new GenericInternalRow(Array[Any](
      new GenericArrayData(dv), scale, new GenericArrayData(q),
      java.lang.Math.sqrt(s)))
  }

  /** `quantize_audit(v: array<float>|array<double>): struct<scale:double,
    * q_sum:bigint, sq_err:double>` — q105's per-vector int8
    * quantization audit in one pass: scale = max |v_i| (NaN greatest),
    * and — when scale > 0 — q_i = (long) floor(v_i / scale · 127.0),
    * q_sum = Σ q_i (left fold from 0), sq_err = Σ (v_i − q_i·scale /
    * 127.0)² (left fold from +0.0). Every per-element IEEE sequence and
    * both fold orders are exactly the `array_max(transform(...))` /
    * `aggregate(q, 0L, ...)` / `aggregate(zip_with(...), 0D, ...)` chain
    * it replaces (2 + 3·dim lambda dispatches per row), so outputs are
    * bit-identical. When scale ≤ 0 the (q_sum, sq_err) slots are 0 —
    * the caller filters those rows out. Empty v → null. A null element
    * throws. */
  def quantizeAudit(v: ArrayData, fromFloat: Boolean): InternalRow = {
    val n = v.numElements()
    if (n == 0) return null
    val scale = absMax(v, fromFloat, "quantize_audit")
    var qsum = 0L
    var err = 0.0d
    if (scale > 0) {
      var i = 0
      while (i < n) {
        val x = at(v, i, fromFloat)
        val q = java.lang.Math.floor(x / scale * 127.0).toLong
        qsum += q
        val d = x - q * scale / 127.0
        err += d * d
        i += 1
      }
    }
    new GenericInternalRow(Array[Any](scale, qsum, err))
  }
}
