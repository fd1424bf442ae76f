package graft.functions

/** Bit-interleave kernel for Z-order (Morton) curves, called by the
  * [[GraftFunctions.zorder2]] handle's `StaticInvoke`. Top-level object
  * → static forwarders (same pattern as [[HashKernels]]).
  *
  * `zorder2(x, y)` is the multi-dimensional clustering key behind
  * Z-ordered table layouts (Delta/Iceberg `OPTIMIZE ZORDER BY`): sorting
  * by it interleaves both dimensions' bit prefixes, so range-partitioned
  * files get BALANCED per-file bounding boxes and file-level min/max
  * stats can prune selective predicates on EITHER dimension (a
  * single-column sort prunes only its own column). q74 and ZOrderSpec
  * pin the kernel. Caller contract: keys must already be reduced to 16
  * bits (mod/bucket); like Delta, z-ordering works on COMPARABLE-WIDTH
  * dimension digests, and unbalanced widths degrade toward a single-dim
  * sort.
  */
object ZOrderKernel {

  /** Spread the low 16 bits of `v` to the even bit positions of a
    * 32-bit value (the classic parallel-prefix magic-mask sequence —
    * see e.g. "Bit Twiddling Hacks", Anderson, public domain).
    */
  def spread16(v: Int): Long = {
    var x = (v & 0xFFFF).toLong
    x = (x | (x << 8)) & 0x00FF00FFL
    x = (x | (x << 4)) & 0x0F0F0F0FL
    x = (x | (x << 2)) & 0x33333333L
    x = (x | (x << 1)) & 0x55555555L
    x
  }

  /** 32-bit Morton code of two 16-bit keys: x's bits at even
    * positions, y's at odd. Equals the naive per-bit interleave
    * Σᵢ ((x>>i)&1)<<2i | ((y>>i)&1)<<(2i+1) — pinned by
    * FunctionPropertySpec and by q74's unrolled-SQL oracle. A null key
    * gives a null result.
    */
  def interleave16(x: Int, y: Int): Long =
    spread16(x) | (spread16(y) << 1)
}
