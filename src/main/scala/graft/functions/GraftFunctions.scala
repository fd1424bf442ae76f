package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Registration surface for graft's native Catalyst expressions:
  * [[GraftFunctions.ensureRegistered]] registers them on a live session
  * (idempotent), so `dot_f(a, b)` and the rest resolve in SQL text; the
  * query builders call it, so no session needs extra config. The
  * column-API handles below build the same expressions without SQL-text
  * resolution.
  */
object GraftFunctions {

  private val dotF
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("dot_f"),
    new ExpressionInfo(classOf[DotProductF].getName, null, "dot_f"),
    (children: Seq[Expression]) => {
      require(children.size == 2, s"dot_f expects 2 arguments, got ${children.size}")
      DotProductF(children.head, children(1))
    })

  private val simhashF
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("simhash_bits"),
    new ExpressionInfo(classOf[SimhashBits].getName, null, "simhash_bits"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        s"simhash_bits expects 2 arguments, got ${children.size}")
      SimhashBits(children.head, children(1))
    })

  private val md5LongsF
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("md5_longs"),
    new ExpressionInfo(classOf[Md5PrefixLongsExpr].getName, null, "md5_longs"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        s"md5_longs expects 2 arguments, got ${children.size}")
      Md5PrefixLongsExpr(children.head, children(1))
    })

  private val rollingHashF
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("rolling_hash"),
    new ExpressionInfo(classOf[RollingHashExpr].getName, null, "rolling_hash"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        s"rolling_hash expects 1 argument, got ${children.size}")
      RollingHashExpr(children.head)
    })

  private val minhash64F
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("minhash64"),
    new ExpressionInfo(classOf[MinHash64Expr].getName, null, "minhash64"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        s"minhash64 expects 2 arguments, got ${children.size}")
      MinHash64Expr(children.head, children(1))
    })

  private val parsePageF
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("parse_page"),
    new ExpressionInfo(classOf[ParsePageExpr].getName, null, "parse_page"),
    (children: Seq[Expression]) => {
      require(children.size == 1,
        s"parse_page expects 1 argument, got ${children.size}")
      ParsePageExpr(children.head)
    })

  private val ngramsF
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("ngrams"),
    new ExpressionInfo(classOf[NGramsExpr].getName, null, "ngrams"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        s"ngrams expects 2 arguments, got ${children.size}")
      NGramsExpr(children.head, children(1))
    })

  private val zorder2F
      : (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
    FunctionIdentifier("zorder2"),
    new ExpressionInfo(classOf[ZOrder2Expr].getName, null, "zorder2"),
    (children: Seq[Expression]) => {
      require(children.size == 2,
        s"zorder2 expects 2 arguments, got ${children.size}")
      ZOrder2Expr(children.head, children(1))
    })

  /** Idempotent imperative registration on a live session. */
  def ensureRegistered(spark: SparkSession): Unit = {
    val registry = spark.sessionState.functionRegistry
    Seq(dotF, simhashF, md5LongsF, rollingHashF, minhash64F, parsePageF,
      zorder2F, ngramsF).foreach {
      case (id, info, builder) =>
        if (!registry.functionExists(id))
          registry.registerFunction(id, info, builder)
    }
  }

  /** Column-API handle for [[SimhashBits]]. */
  def simhash(vals: Column, nbits: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      SimhashBits(
        org.apache.spark.sql.GraftColumnBridge.expression(vals),
        org.apache.spark.sql.catalyst.expressions.Literal(nbits)))

  /** Column-API handle (works without SQL-text resolution). */
  def dot(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      DotProductF(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Column-API handle for [[L2SqLDExpr]]. */
  def l2sq(a: Column, b: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      L2SqLDExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(a),
        org.apache.spark.sql.GraftColumnBridge.expression(b)))

  /** Column-API handle for [[L2ArgminExpr]]. */
  def l2argmin(xq: Column, cs: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      L2ArgminExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(xq),
        org.apache.spark.sql.GraftColumnBridge.expression(cs)))

  /** Column-API handle for [[CosArgmaxExpr]]. */
  def cosArgmax(v: Column, nrm: Column, cs: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      CosArgmaxExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(v),
        org.apache.spark.sql.GraftColumnBridge.expression(nrm),
        org.apache.spark.sql.GraftColumnBridge.expression(cs)))

  /** Column-API handle for [[PqEncodeExpr]]. */
  def pqEncode(vec: Column, cbl: Column, sub: Int, dsub: Int, k: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      PqEncodeExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(vec),
        org.apache.spark.sql.GraftColumnBridge.expression(cbl),
        sub, dsub, k))

  /** Column-API handle for [[QuantizeAuditExpr]]. */
  def quantizeAudit(v: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      QuantizeAuditExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(v)))

  /** Column-API handle for [[QuantizeVecExpr]]. */
  def quantizeVec(v: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      QuantizeVecExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(v)))

  /** Column-API handle for [[PqAdcExpr]]. */
  def pqAdc(codes: Column, qdt: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      PqAdcExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(codes),
        org.apache.spark.sql.GraftColumnBridge.expression(qdt)))

  /** Column-API handle for [[Md5PrefixLongsExpr]]. */
  def md5Longs(arr: Column, nHex: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      Md5PrefixLongsExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(arr),
        org.apache.spark.sql.catalyst.expressions.Literal(nHex)))

  /** Column-API handle for [[RollingHashExpr]]. */
  def rollingHash(arr: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      RollingHashExpr(org.apache.spark.sql.GraftColumnBridge.expression(arr)))

  /** Column-API handle for [[MinHash64Expr]]. */
  def minhash64(arr: Column, k: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      MinHash64Expr(
        org.apache.spark.sql.GraftColumnBridge.expression(arr),
        org.apache.spark.sql.catalyst.expressions.Literal(k)))

  /** Column-API handle for [[ParsePageExpr]]. */
  def parsePage(html: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      ParsePageExpr(org.apache.spark.sql.GraftColumnBridge.expression(html)))

  /** Column-API handle for [[NGramsExpr]]. */
  def ngrams(arr: Column, n: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      NGramsExpr(
        org.apache.spark.sql.GraftColumnBridge.expression(arr),
        org.apache.spark.sql.catalyst.expressions.Literal(n)))

  /** Column-API handle for [[ZOrder2Expr]]. */
  def zorder2(x: Column, y: Column): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      ZOrder2Expr(
        org.apache.spark.sql.GraftColumnBridge.expression(x),
        org.apache.spark.sql.GraftColumnBridge.expression(y)))
}
