package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, IntegerType, LongType}

/** Bit-interleave kernel for Z-order (Morton) curves. Top-level object
  * → static forwarders, so generated Java calls it directly (same
  * pattern as [[HashKernels]]).
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
    * FunctionPropertySpec and by q74's unrolled-SQL oracle.
    */
  def interleave16(x: Int, y: Int): Long =
    spread16(x) | (spread16(y) << 1)
}

/** `zorder2(x, y)`: 32-bit Z-order (Morton) value of two int keys'
  * low 16 bits — the multi-dimensional clustering key behind
  * Z-ordered table layouts (Delta/Iceberg `OPTIMIZE ZORDER BY`):
  * sorting by `z` interleaves both dimensions' bit prefixes, so
  * range-partitioned files get BALANCED per-file bounding boxes and
  * file-level min/max stats can prune selective predicates on EITHER
  * dimension (a single-column sort prunes only its own column).
  * A write range-partitioned and sorted on `z` is that layout; q74 and
  * ZOrderSpec pin the kernel.
  *
  * Codegen: a handful of shift/mask ops inline in the generated Java —
  * stays inside whole-stage codegen like all graft natives. Caller
  * contract: keys must already be reduced to 16 bits (mod/bucket);
  * like Delta, z-ordering works on COMPARABLE-WIDTH dimension digests,
  * and unbalanced widths degrade toward a single-dim sort.
  */
case class ZOrder2Expr(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (IntegerType, IntegerType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"zorder2 expects (int, int), got (${l.catalogString}, ${r.catalogString})")
    }

  override def dataType: DataType = LongType

  override def prettyName: String = "zorder2"

  override protected def nullSafeEval(x: Any, y: Any): Any =
    ZOrderKernel.interleave16(x.asInstanceOf[Int], y.asInstanceOf[Int])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (x, y) =>
      s"graft.functions.ZOrderKernel.interleave16($x, $y)")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): ZOrder2Expr =
    copy(left = newLeft, right = newRight)
}
