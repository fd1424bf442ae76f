package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The round-22 quantize_audit kernel (q105): one compiled projection
  * replacing the array_max/transform/aggregate/zip_with HOF chain.
  * Pins BIT-identity of all three outputs against the interpreted HOF
  * form on the real parquet-backed embedding column (parquet-backed so
  * the kernel runs through codegen, not constant folding), plus the
  * null/empty contract.
  */
class QuantizeAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  test("kernel ≡ HOF chain on the real embedding column, bit-exact") {
    val v = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
    val hof = v
      .withColumn("scale", expr("array_max(transform(v, x -> abs(x)))"))
      .filter(col("scale") > 0)
      .withColumn("q",
        expr("transform(v, x -> cast(floor(x / scale * 127.0) as bigint))"))
      .select(col("vec_id"), col("scale"),
        expr("aggregate(q, 0L, (a, x) -> a + x)").as("q_sum"),
        expr("aggregate(zip_with(v, q, (x, c) -> " +
          "(x - c * scale / 127.0) * (x - c * scale / 127.0)), " +
          "cast(0 as double), (a, x) -> a + x)").as("sq_err"))
      .orderBy(col("vec_id")).collect()
    // the kernel reads the RAW float column (q105's production shape) —
    // this also pins the exact-widening claim for the float path
    val kernel = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"), GraftFunctions.quantizeAudit(col("embedding")).as("qa"))
      .filter(col("qa.scale") > 0)
      .select(col("vec_id"), col("qa.scale"), col("qa.q_sum"), col("qa.sq_err"))
      .orderBy(col("vec_id")).collect()
    assert(kernel.length === hof.length && hof.nonEmpty)
    kernel.zip(hof).foreach { case (k, h) =>
      assert(k.getLong(0) === h.getLong(0))
      assert(java.lang.Double.doubleToLongBits(k.getDouble(1))
        === java.lang.Double.doubleToLongBits(h.getDouble(1)), s"scale @${k.getLong(0)}")
      assert(k.getLong(2) === h.getLong(2), s"q_sum @${k.getLong(0)}")
      assert(java.lang.Double.doubleToLongBits(k.getDouble(3))
        === java.lang.Double.doubleToLongBits(h.getDouble(3)), s"sq_err @${k.getLong(0)}")
    }
  }

  test("null and empty vectors yield null (≡ the HOF form's null scale)") {
    import spark.implicits._
    // parquet-backed so the expression is not constant-folded away
    val dir = java.nio.file.Files.createTempDirectory("graft_qa").toString
    Seq((1L, Some(Seq(3.0, -4.0))), (2L, Some(Seq.empty[Double])), (3L, None))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    val got = spark.read.parquet(dir)
      .select(col("id"), GraftFunctions.quantizeAudit(col("v")).as("qa"))
      .orderBy(col("id")).collect()
    assert(!got(0).isNullAt(1))
    assert(got(0).getStruct(1).getDouble(0) === 4.0) // scale = max |x|
    assert(got(1).isNullAt(1)) // empty → null
    assert(got(2).isNullAt(1)) // null → null
  }

  test("a null element throws, naming the kernel") {
    import spark.implicits._
    // the chain this replaced null-propagates a null element; the kernel
    // cannot reproduce that with one scale, so it refuses the row
    val dir = java.nio.file.Files.createTempDirectory("graft_qa_null").toString
    Seq((1L, Seq[java.lang.Double](3.0, null, -4.0)))
      .toDF("id", "v").write.mode("overwrite").parquet(dir)
    val e = intercept[Exception] {
      spark.read.parquet(dir).select(GraftFunctions.quantizeAudit(col("v"))).collect()
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).toSeq
    assert(msgs.exists(_.contains("quantize_audit: null element at index 1")), msgs.mkString("\n"))
  }
}
