package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftColumnBridge.{column, expression}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.catalyst.trees.{BinaryLike, UnaryLike}
import org.apache.spark.sql.types._

/** Column-API handles for graft's native kernels. Each handle builds a
  * Spark `StaticInvoke` of a static kernel method ([[VecDistKernels]],
  * [[HashKernels]], [[NGramKernel]], [[ZOrderKernel]],
  * `graft.wiki.Html.parsePageRow`), so:
  *  - analysis checks the argument types
  *    (`DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE` on a mismatch);
  *  - a null argument gives a null result without calling the kernel;
  *  - whole-stage codegen emits a direct call to the method, and
  *    interpreted eval (e.g. inside a `transform` lambda) invokes the
  *    same method.
  * Plans render a call as
  * `static_invoke(graft.functions.VecDistKernels.dotDD(v#1, v#1))`.
  * No session needs a function-registry entry or extra config. Each
  * kernel method's scaladoc carries its contract (null rule, fold order,
  * why it is native).
  */
object GraftFunctions {

  private val DoubleArr = ArrayType(DoubleType)
  private val LongArr = ArrayType(LongType)
  private val StringArr = ArrayType(StringType)

  /** `StaticInvoke` of `kernels.method(args)` returning `dataType`,
    * inside a [[KernelCall]]; `returnNullable` marks a kernel that may
    * itself return null. */
  private[functions] def invoke(kernels: AnyRef, method: String,
      dataType: DataType, args: Seq[Expression], inputTypes: Seq[DataType],
      returnNullable: Boolean = false): Expression =
    KernelCall(StaticInvoke(kernels.getClass, dataType, method, args, inputTypes,
      returnNullable = returnNullable))

  private def call(kernels: AnyRef, method: String, dataType: DataType,
      args: Seq[Column], inputTypes: Seq[DataType],
      returnNullable: Boolean = false): Column =
    column(invoke(kernels, method, dataType, args.map(expression), inputTypes,
      returnNullable))

  /** [[HashKernels.simhash]], nbits in [1, 63]. */
  def simhash(vals: Column, nbits: Int): Column = {
    require(nbits >= 1 && nbits <= 63, s"simhash: nbits must be in [1, 63], got $nbits")
    call(HashKernels, "simhash", LongType, Seq(vals, lit(nbits)),
      Seq(LongArr, IntegerType))
  }

  /** [[VecDistKernels.dotDD]]. */
  def dot(a: Column, b: Column): Column =
    call(VecDistKernels, "dotDD", DoubleType, Seq(a, b), Seq(DoubleArr, DoubleArr))

  /** [[VecDistKernels.l2sqLD]]. */
  def l2sq(a: Column, b: Column): Column =
    call(VecDistKernels, "l2sqLD", DoubleType, Seq(a, b), Seq(LongArr, DoubleArr))

  /** [[VecDistKernels.l2argmin]]. */
  def l2argmin(xq: Column, cs: Column): Column =
    call(VecDistKernels, "l2argmin",
      StructType(Seq(
        StructField("d", DoubleType, nullable = false),
        StructField("c", IntegerType, nullable = false))),
      Seq(xq, cs),
      Seq(LongArr, ArrayType(StructType(Seq(
        StructField("cid", IntegerType), StructField("mu", DoubleArr))))))

  /** [[VecDistKernels.cosArgmax]]. */
  def cosArgmax(v: Column, nrm: Column, cs: Column): Column =
    call(VecDistKernels, "cosArgmax",
      StructType(Seq(
        StructField("cid", LongType, nullable = false),
        StructField("cos", DoubleType, nullable = false))),
      Seq(v, nrm, cs),
      Seq(DoubleArr, DoubleType, ArrayType(StructType(Seq(
        StructField("cid", LongType), StructField("cv", DoubleArr),
        StructField("cn", DoubleType))))))

  /** [[VecDistKernels.pqEncode]] over a long or double `vec`. */
  def pqEncode(vec: Column, cbl: Column, sub: Int, dsub: Int, k: Int): Column =
    column(PqEncode(expression(vec), expression(cbl), sub, dsub, k))

  /** [[VecDistKernels.quantizeAudit]] over a float or double vector. */
  def quantizeAudit(v: Column): Column = column(QuantizeAudit(expression(v)))

  /** [[VecDistKernels.quantizeVec]] over a float or double vector. */
  def quantizeVec(v: Column): Column = column(QuantizeVec(expression(v)))

  /** [[VecDistKernels.pqAdc]]. */
  def pqAdc(codes: Column, qdt: Column): Column =
    call(VecDistKernels, "pqAdc", DoubleType, Seq(codes, qdt),
      Seq(ArrayType(IntegerType), ArrayType(DoubleArr)))

  /** [[HashKernels.md5PrefixLongs]], nHex in [1, 15]. */
  def md5Longs(arr: Column, nHex: Int): Column = {
    require(nHex >= 1 && nHex <= 15, s"md5_longs: nHex must be in [1, 15], got $nHex")
    column(Md5Longs(expression(arr), nHex))
  }

  /** [[HashKernels.rollingHash]]; null when any element is null. */
  def rollingHash(arr: Column): Column =
    call(HashKernels, "rollingHash", LongType, Seq(arr), Seq(LongArr),
      returnNullable = true)

  /** [[HashKernels.minhash64]] over strings, or
    * [[HashKernels.minhash64Hashed]] over pre-hashed longs; k in
    * [1, 1024]. */
  def minhash64(arr: Column, k: Int): Column = {
    require(k >= 1 && k <= 1024, s"minhash64: k must be in [1, 1024], got $k")
    column(MinHash64(expression(arr), k))
  }

  /** `graft.wiki.Html.parsePageRow`: the one-pass page parse as a
    * struct (categories, lastmodText, text, word_count). */
  def parsePage(html: Column): Column =
    call(graft.wiki.Html, "parsePageRow",
      StructType(Seq(
        StructField("categories", ArrayType(StringType, containsNull = false),
          nullable = false),
        StructField("lastmodText", StringType, nullable = true),
        StructField("text", StringType, nullable = false),
        StructField("word_count", IntegerType, nullable = false))),
      Seq(html), Seq(StringType))

  /** [[NGramKernel.ngrams]]. */
  def ngrams(arr: Column, n: Int): Column =
    call(NGramKernel, "ngrams", ArrayType(StringType, containsNull = false),
      Seq(arr, lit(n)), Seq(StringArr, IntegerType))

  /** [[ZOrderKernel.interleave16]]. */
  def zorder2(x: Column, y: Column): Column =
    call(ZOrderKernel, "interleave16", LongType, Seq(x, y),
      Seq(IntegerType, IntegerType))

  private def lit(v: Any): Column = column(Literal(v))
}

/** The node every handle returns around its `StaticInvoke`: transparent
  * for type checks, result type, nullability, eval, codegen and plan
  * text, but not null-intolerant. `StaticInvoke` reports
  * `nullIntolerant = propagateNull`, so a filter on a kernel's result
  * (or an explode of it) would let the optimizer infer `isnotnull` of
  * the kernel's arguments and push a copy of each argument's defining
  * expression into a filter below the projection that computes it. Where
  * that expression is a `filter`/`transform` lambda, the lambda runs
  * again per row: a traced Curate run executed 79 lambdas instead of 73
  * without this node. */
private[functions] case class KernelCall(child: Expression)
    extends Expression with UnaryLike[Expression] {
  override def dataType: DataType = child.dataType
  override def nullable: Boolean = child.nullable
  override def foldable: Boolean = child.foldable
  override def checkInputDataTypes(): TypeCheckResult = child.checkInputDataTypes()
  override def eval(input: InternalRow): Any = child.eval(input)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    child.genCode(ctx)
  override def sql: String = child.sql
  override def toString: String = child.toString
  override protected def withNewChildInternal(newChild: Expression): KernelCall =
    copy(child = newChild)
}

/** A kernel call whose method or result type follows its first
  * argument's element type, which is known only once that argument
  * resolves. Analysis checks the types of the `replacement`
  * `StaticInvoke`; the optimizer then swaps the shell for it
  * (`RuntimeReplaceable`), so execution is the same direct kernel call
  * as every other handle. */
private[functions] sealed trait ByElementType extends RuntimeReplaceable {
  override def checkInputDataTypes(): TypeCheckResult =
    replacement.checkInputDataTypes()

  protected def elementType(e: Expression): DataType = e.dataType match {
    case ArrayType(t, _) => t
    case t => t
  }
}

private[functions] case class PqEncode(left: Expression, right: Expression,
    sub: Int, dsub: Int, k: Int) extends ByElementType with BinaryLike[Expression] {
  override def prettyName: String = "pq_encode"
  override lazy val replacement: Expression = {
    val fromLong = elementType(left) == LongType
    GraftFunctions.invoke(VecDistKernels, "pqEncode",
      ArrayType(IntegerType, containsNull = false),
      Seq(left, right, Literal(sub), Literal(dsub), Literal(k), Literal(fromLong)),
      Seq(ArrayType(if (fromLong) LongType else DoubleType),
        ArrayType(StructType(Seq(StructField("jj", IntegerType),
          StructField("cid", IntegerType), StructField("mu", ArrayType(DoubleType))))),
        IntegerType, IntegerType, IntegerType, BooleanType))
  }
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqEncode =
    copy(left = newLeft, right = newRight)
}

private[functions] case class QuantizeAudit(child: Expression)
    extends ByElementType with UnaryLike[Expression] {
  override def prettyName: String = "quantize_audit"
  override lazy val replacement: Expression = {
    val fromFloat = elementType(child) == FloatType
    GraftFunctions.invoke(VecDistKernels, "quantizeAudit",
      StructType(Seq(
        StructField("scale", DoubleType, nullable = false),
        StructField("q_sum", LongType, nullable = false),
        StructField("sq_err", DoubleType, nullable = false))),
      Seq(child, Literal(fromFloat)),
      Seq(ArrayType(if (fromFloat) FloatType else DoubleType), BooleanType),
      returnNullable = true)
  }
  override protected def withNewChildInternal(newChild: Expression): QuantizeAudit =
    copy(child = newChild)
}

private[functions] case class QuantizeVec(child: Expression)
    extends ByElementType with UnaryLike[Expression] {
  override def prettyName: String = "quantize_vec"
  override lazy val replacement: Expression = {
    val fromFloat = elementType(child) == FloatType
    GraftFunctions.invoke(VecDistKernels, "quantizeVec",
      StructType(Seq(
        StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false),
        StructField("scale", DoubleType, nullable = false),
        StructField("q", ArrayType(DoubleType, containsNull = false), nullable = false),
        StructField("nrm", DoubleType, nullable = false))),
      Seq(child, Literal(fromFloat)),
      Seq(ArrayType(if (fromFloat) FloatType else DoubleType), BooleanType),
      returnNullable = true)
  }
  override protected def withNewChildInternal(newChild: Expression): QuantizeVec =
    copy(child = newChild)
}

private[functions] case class Md5Longs(child: Expression, nHex: Int)
    extends ByElementType with UnaryLike[Expression] {
  override def prettyName: String = "md5_longs"
  override lazy val replacement: Expression = {
    val containsNull = child.dataType match {
      case ArrayType(_, cn) => cn
      case _ => true
    }
    GraftFunctions.invoke(HashKernels, "md5PrefixLongs",
      ArrayType(LongType, containsNull), Seq(child, Literal(nHex)),
      Seq(ArrayType(StringType), IntegerType))
  }
  override protected def withNewChildInternal(newChild: Expression): Md5Longs =
    copy(child = newChild)
}

private[functions] case class MinHash64(child: Expression, k: Int)
    extends ByElementType with UnaryLike[Expression] {
  override def prettyName: String = "minhash64"
  override lazy val replacement: Expression = {
    val hashed = elementType(child) == LongType
    GraftFunctions.invoke(HashKernels, if (hashed) "minhash64Hashed" else "minhash64",
      ArrayType(LongType, containsNull = false), Seq(child, Literal(k)),
      Seq(ArrayType(if (hashed) LongType else StringType), IntegerType))
  }
  override protected def withNewChildInternal(newChild: Expression): MinHash64 =
    copy(child = newChild)
}
