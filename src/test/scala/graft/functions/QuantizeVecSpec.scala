package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The round-22 quantize_vec kernel (q108): one compiled projection
  * replacing the cast-transform / abs-max / floor-quantize chains plus
  * the dot norm column. Pins BIT-identity of all four outputs against
  * the interpreted HOF form on the real parquet-backed embedding column
  * (parquet-backed so the kernel runs through codegen, not constant
  * folding), plus the null/empty contract.
  */
class QuantizeVecSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("kernel ≡ HOF chain on the real embedding column, bit-exact") {
    import graft.functions.GraftFunctions.dot
    val hof = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x)))"))
      .filter(col("scale") > 0)
      .withColumn("q",
        expr("transform(v, x -> cast(floor(x / scale * 127.0) as double))"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .orderBy(col("vec_id")).collect()
    // the kernel reads the RAW float column (q108's production shape) —
    // this also pins the exact-widening claim for the float path
    val kernel = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), GraftFunctions.quantizeVec(col("embedding")).as("qz"))
      .filter(col("qz.scale") > 0)
      .select(col("vec_id"), col("qz.v").as("v"), col("qz.scale").as("scale"),
        col("qz.q").as("q"), col("qz.nrm").as("nrm"))
      .orderBy(col("vec_id")).collect()
    assert(kernel.length === hof.length && hof.nonEmpty)
    kernel.zip(hof).foreach { case (k, h) =>
      assert(k.getLong(0) === h.getLong(0))
      val (kv, hv) = (k.getSeq[Double](1), h.getSeq[Double](1))
      assert(kv.length === hv.length, s"v length @${k.getLong(0)}")
      kv.zip(hv).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a)
          === java.lang.Double.doubleToLongBits(b), s"v @${k.getLong(0)}")
      }
      assert(java.lang.Double.doubleToLongBits(k.getDouble(2))
        === java.lang.Double.doubleToLongBits(h.getDouble(2)), s"scale @${k.getLong(0)}")
      val (kq, hq) = (k.getSeq[Double](3), h.getSeq[Double](3))
      assert(kq.length === hq.length, s"q length @${k.getLong(0)}")
      kq.zip(hq).foreach { case (a, b) =>
        assert(java.lang.Double.doubleToLongBits(a)
          === java.lang.Double.doubleToLongBits(b), s"q @${k.getLong(0)}")
      }
      assert(java.lang.Double.doubleToLongBits(k.getDouble(4))
        === java.lang.Double.doubleToLongBits(h.getDouble(4)), s"nrm @${k.getLong(0)}")
    }
  }

  test("null and empty vectors yield null (≡ the HOF form's null scale)") {
    import spark.implicits._
    // parquet-backed so the expression is not constant-folded away
    val dir = java.nio.file.Files.createTempDirectory("graft_qv").toString
    Seq((1L, Some(Seq(3.0, -4.0))), (2L, Some(Seq.empty[Double])), (3L, None))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .select(col("id"), GraftFunctions.quantizeVec(col("v")).as("qz"))
      .orderBy(col("id")).collect()
    assert(!got(0).isNullAt(1))
    val r = got(0).getStruct(1)
    assert(r.getDouble(1) === 4.0) // scale = max |x|
    assert(r.getSeq[Double](0) === Seq(3.0, -4.0)) // v = double widening
    // q_i = floor(x / 4 * 127): 3.0 -> floor(95.25) = 95, -4.0 -> -127
    assert(r.getSeq[Double](2) === Seq(95.0, -127.0))
    assert(r.getDouble(3) === 5.0) // nrm = sqrt(9 + 16)
    assert(got(1).isNullAt(1)) // empty → null
    assert(got(2).isNullAt(1)) // null → null
  }

  test("a null element throws, naming the kernel") {
    import spark.implicits._
    // the chain this replaced null-propagates a null element; the kernel
    // cannot reproduce that with one scale, so it refuses the row
    val dir = java.nio.file.Files.createTempDirectory("graft_qv_null").toString
    Seq((1L, Seq[java.lang.Double](3.0, null, -4.0)))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    val e = intercept[Exception] {
      spark.read.parquet(dir).select(GraftFunctions.quantizeVec(col("v"))).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("quantize_vec: null element at index 1")), msgs.mkString("\n"))
  }
}
