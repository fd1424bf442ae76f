package graft.functions

import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Kernel for word n-gram (shingle) construction, the hot inner loop of
  * every shingle-based operator (q32/q33/q42 3-grams, q77 5-grams).
  * Top-level object → static forwarders, called by the
  * [[GraftFunctions.ngrams]] handle's `StaticInvoke` (the
  * [[HashKernels]] pattern).
  *
  * Why native: the HOF formulation (`transform(sequence(...))` with
  * per-gram `concat_ws`/`element_at` lambdas) runs INTERPRETED and
  * measured ~10 s of the sf0.1 corpus scan in q77; this is one call per
  * row inside the codegen stage. Output strings are byte-identical to the
  * chain, so every DuckDB oracle keeps its independent
  * `list_transform(generate_series(...))` formulation.
  */
object NGramKernel {

  private val Space = UTF8String.fromString(" ")

  /** `ngrams(arr: array<string>, n): array<string>` — space-joined
    * sliding n-grams of a token array: element i is
    * `arr[i] ⧺ " " ⧺ … ⧺ arr[i+n-1]`, `max(len-n+1, 0)` elements.
    * Byte-identical to the HOF chain
    * `transform(sequence(1, size(a)-n+1), i -> concat_ws(' ', a[i], …))`
    * for arrays with NO null elements (a null element: `concat`/
    * `concat_ws` would skip or poison; this kernel requires non-null
    * tokens, which `split()` output guarantees). A null array gives a
    * null result. Parity pinned by FunctionPropertySpec.
    */
  def ngrams(arr: ArrayData, n: Int): ArrayData = {
    val len = arr.numElements()
    val out = len - n + 1
    if (out <= 0) return new GenericArrayData(Array.empty[Any])
    val res = new Array[Any](out)
    val parts = new Array[UTF8String](n)
    var i = 0
    while (i < out) {
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      res(i) = UTF8String.concatWs(Space, parts: _*)
      i += 1
    }
    new GenericArrayData(res)
  }
}
