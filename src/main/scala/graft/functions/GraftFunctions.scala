package graft.functions

import org.apache.spark.sql.Column

/** Column-API handles for graft's native Catalyst expressions: each
  * builds its expression directly, so no session needs a function
  * registry entry or extra config.
  */
object GraftFunctions {

  /** Column-API handle for [[SimhashBits]]. */
  def simhash(vals: Column, nbits: Int): Column =
    org.apache.spark.sql.GraftColumnBridge.column(
      SimhashBits(
        org.apache.spark.sql.GraftColumnBridge.expression(vals),
        org.apache.spark.sql.catalyst.expressions.Literal(nbits)))

  /** Column-API handle for [[DotProductF]]. */
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
