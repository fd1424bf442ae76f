package graft.functions

import org.apache.spark.sql.catalyst.expressions.{UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernels behind the fingerprinting handles of
  * [[GraftFunctions]]. Top-level object so Scala emits STATIC
  * FORWARDERS: each handle's `StaticInvoke` generates a direct call
  * (`graft.functions.HashKernels.md5PrefixLongs(arr, 7)`), and
  * interpreted eval runs the same method. A null array argument gives a
  * null result before the kernel runs.
  *
  * Why native: the HOF formulations —
  * `transform(toks, t -> conv(substring(md5(t),1,n),16,10))` and the
  * minhash `transform(sequence(0,31), k -> array_min(transform(sh, t ->
  * xxhash64(t,k))))` — pay an interpreted lambda dispatch plus hex-string
  * materialization (md5 hex → substring → base-16 string parse) PER
  * ELEMENT. On the sf0.1 documents corpus that interpreted chain was
  * q47 = 47 s, q36 = 15 s, q42 = 22 s, q33 = 44 s of almost pure
  * constant-factor overhead. Each kernel is one tight loop over the
  * array with zero intermediate strings.
  */
object HashKernels {

  private val md5 = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First `nHex` hex chars (nibbles, big-endian) of md5(s), as a long —
    * numerically identical to `conv(substring(md5(s), 1, nHex), 16, 10)`
    * without ever materializing the hex string. nHex <= 15 keeps the
    * value in a positive signed long.
    */
  def md5Prefix(s: UTF8String, nHex: Int): Long = {
    val d = md5.get()
    d.reset()
    val dig = d.digest(s.getBytes)
    var v = 0L
    var i = 0
    while (i < nHex) {
      val nib =
        if ((i & 1) == 0) (dig(i >> 1) >> 4) & 0xf
        else dig(i >> 1) & 0xf
      v = (v << 4) | nib
      i += 1
    }
    v
  }

  /** `md5_longs(arr: array<string>, nHex): array<bigint>` — element-wise
    * [[md5Prefix]], the native form of `transform(arr, t ->
    * cast(conv(substring(md5(t),1,nHex),16,10) as bigint))` with
    * bit-identical output (same md5, same big-endian nibble value), so
    * every oracle built on the chain still matches. Null elements map to
    * null elements (the chain's md5(null) = null), so the result
    * `containsNull` follows the input's. Used by q36 (nHex=4), q42
    * (nHex=15) and q47 (nHex=7).
    */
  def md5PrefixLongs(arr: ArrayData, nHex: Int): ArrayData = {
    val n = arr.numElements()
    var hasNull = false
    var i = 0
    while (i < n && !hasNull) { hasNull = arr.isNullAt(i); i += 1 }
    if (!hasNull) {
      val out = new Array[Long](n)
      i = 0
      while (i < n) {
        out(i) = md5Prefix(arr.getUTF8String(i), nHex)
        i += 1
      }
      UnsafeArrayData.fromPrimitiveArray(out)
    } else {
      val out = new Array[Any](n)
      i = 0
      while (i < n) {
        if (!arr.isNullAt(i)) out(i) = md5Prefix(arr.getUTF8String(i), nHex)
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  /** `rolling_hash(arr: array<bigint>): bigint` — Rabin-Karp polynomial
    * fold (acc*131 + x) mod 1e9+7, left-to-right from 0 — exactly the
    * `aggregate(vals, 0L, (acc,x) -> (acc*131 + x) % 1000000007)` HOF it
    * replaces (q47), including Java long
    * arithmetic and null poisoning (any null element -> null total, like
    * the lambda's null-propagating `+`). Boxed return so null is
    * representable.
    */
  def rollingHash(arr: ArrayData): java.lang.Long = {
    val n = arr.numElements()
    var acc = 0L
    var i = 0
    while (i < n) {
      if (arr.isNullAt(i)) return null
      acc = (acc * 131L + arr.getLong(i)) % 1000000007L
      i += 1
    }
    java.lang.Long.valueOf(acc)
  }

  private final val SplitmixGolden = 0x9e3779b97f4a7c15L

  /** splitmix64 finalizer — the standard 64-bit bit-mixer. */
  def mix64(z0: Long): Long = {
    var z = z0
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** `minhash64(arr: array<string>, k): array<bigint>` — k minhash
    * values in one pass: ONE xxhash64 string hash per
    * element, then k cheap splitmix64 derivations h_j = mix64(h + j·φ),
    * minima tracked per j. Replaces k FULL string hashes per element
    * (the `transform(sequence(0,k-1), j -> array_min(transform(sh, t ->
    * xxhash64(t, j))))` chain) — same minhash guarantee (any pairwise-
    * independent-ish family works; correctness comes from the exact-
    * Jaccard verify, see LlmOps q33), ~k× less hashing and zero lambda
    * dispatch. Null elements are skipped; an array with no non-null
    * elements yields Long.MaxValue minima (deterministic). Internals are
    * not cross-engine-pinned by design: sketches only generate candidates.
    */
  def minhash64(arr: ArrayData, k: Int): ArrayData = {
    val minima = new Array[Long](k)
    java.util.Arrays.fill(minima, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val s = arr.getUTF8String(i)
        val h = XXH64.hashUnsafeBytes(s.getBaseObject, s.getBaseOffset, s.numBytes, 42L)
        var j = 0
        while (j < k) {
          val hj = mix64(h + j * SplitmixGolden)
          if (hj < minima(j)) minima(j) = hj
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(minima)
  }

  /** [[minhash64]] over PRE-HASHED shingles (array<bigint> of
    * xxhash64-seed-42 values, e.g. LlmOps.shingledHashed): skips the
    * string hash and starts from the same base `h`, so the minima are
    * bit-identical to the string path — pinned in FunctionPropertySpec.
    */
  def minhash64Hashed(arr: ArrayData, k: Int): ArrayData = {
    val minima = new Array[Long](k)
    java.util.Arrays.fill(minima, Long.MaxValue)
    val n = arr.numElements()
    var i = 0
    while (i < n) {
      if (!arr.isNullAt(i)) {
        val h = arr.getLong(i)
        var j = 0
        while (j < k) {
          val hj = mix64(h + j * SplitmixGolden)
          if (hj < minima(j)) minima(j) = hj
          j += 1
        }
      }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(minima)
  }

  /** `simhash(vals: array<bigint>, nbits): bigint` — SimHash majority
    * vote: bit b (b < nbits ≤ 63) of the fingerprint is set iff a STRICT
    * majority of the feature hashes have bit b set. Exactly the
    * `sum over b of CASE WHEN 2*size(filter(vals, v -> (v div 2^b)%2=1))
    * > size(vals) ...` chain it replaces (q36/q42), including the
    * denominator counting null elements while the numerator skips them.
    * The chain makes nbits interpreted `filter` passes per row, each
    * allocating an array; this is one two-level primitive loop. */
  def simhash(vals: ArrayData, nbits: Int): Long = {
    val n = vals.numElements()
    val counts = new Array[Int](nbits)
    var i = 0
    while (i < n) {
      if (!vals.isNullAt(i)) {
        val v = vals.getLong(i)
        var bit = 0
        while (bit < nbits) {
          counts(bit) += ((v >>> bit) & 1L).toInt
          bit += 1
        }
      }
      i += 1
    }
    var fp = 0L
    var bit = 0
    while (bit < nbits) {
      if (2 * counts(bit) > n) fp |= (1L << bit)
      bit += 1
    }
    fp
  }
}
