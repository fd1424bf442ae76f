package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The native `dot` kernel handle: value parity with the HOF chain
  * it replaces, null semantics and codegen path; plus value checks of
  * the simhash_bits, zorder2 and ngrams column handles.
  */
class FunctionsSpec extends SparkSpec {

  private def vecs = {
    val s = spark
    import s.implicits._
    Seq(
      (1L, Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (2L, Seq(0.5, -1.5), Seq(2.0, 2.0)),
      (3L, Seq(1e-9, 1e9, -1.0), Seq(1e9, 1e-9, 1.0)))
      .toDF("id", "a", "b")
  }

  test("dot_f equals the aggregate(zip_with(...)) fold bit-for-bit") {
    val both = vecs.select(
      GraftFunctions.dot(col("a"), col("b")).as("native"),
      expr("aggregate(zip_with(a, b, (x,y) -> x*y), cast(0 as double), (s,x) -> s+x)").as("hof"))
      .collect()
    both.foreach { r =>
      // bit-identical, not approximately equal: same fold order
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ===
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("dot_f null semantics: null array -> null; null elements contribute 0") {
    val s = spark
    import s.implicits._
    val df = Seq(
      (Some(Seq(Some(1.0), None, Some(3.0))), Some(Seq(Some(2.0), Some(2.0), Some(2.0)))),
      (None, Some(Seq(Some(1.0)))))
      .toDF("a", "b")
    val out = df.select(GraftFunctions.dot(col("a"), col("b")).as("d")).collect()
    assert(out(0).getDouble(0) === 8.0) // 1*2 + (skip) + 3*2
    assert(out(1).isNullAt(0))
  }

  test("dot_f survives type checking: wrong input types fail analysis") {
    val s = spark
    import s.implicits._
    val bad = Seq((1, "x")).toDF("i", "s")
    val e = intercept[Exception] {
      bad.select(GraftFunctions.dot(col("i"), col("s"))).collect()
    }
    assert(e.getMessage.toLowerCase.contains("dot_f") ||
      e.getMessage.toLowerCase.contains("data type mismatch") ||
      e.getMessage.toLowerCase.contains("datatype_mismatch"))
  }

  test("zorder2 and ngrams column handles: bit interleave and word shingles") {
    val s = spark
    import s.implicits._
    val r = Seq(1).toDF("x")
      .select(GraftFunctions.zorder2(lit(3), lit(5)).as("z"),
        GraftFunctions.ngrams(array(lit("a"), lit("b"), lit("c")), 2).as("g"))
      .collect().head
    // x=3 (bits 0,1 -> even positions 0,2), y=5 (bits 0,2 -> odd positions 1,5)
    assert(r.getLong(0) === ((1L << 0) | (1L << 2) | (1L << 1) | (1L << 5)))
    assert(r.getSeq[String](1) === Seq("a b", "b c"))
  }

  test("simhash_bits equals the CASE-chain majority-vote formulation") {
    val s = spark
    import s.implicits._
    val df = Seq(
      Seq(0b1011L, 0b1001L, 0b0001L),        // majorities: bit0=3/3, bit1=1/3, bit3=2/3
      Seq(5L, 5L, 2L, 5L),
      Seq(Long.MaxValue, Long.MaxValue, 0L))
      .toDF("vals")
    val hofE = (0 until 8).map { b =>
      s"(CASE WHEN 2*size(filter(vals, v -> (v div ${1L << b}L) % 2 = 1)) > size(vals) THEN ${1L << b}L ELSE 0L END)"
    }.mkString(" + ")
    val rows = df.select(
      GraftFunctions.simhash(col("vals"), 8).as("native"),
      expr(hofE).as("hof")).collect()
    rows.foreach(r => assert(r.getLong(0) === r.getLong(1)))
    // and the first row's expected value by hand: bits 0 and 3
    assert(rows(0).getLong(0) === 0b1001L)
  }

  test("simhash_bits null semantics match the HOF chain (nulls in denominator only)") {
    val s = spark
    import s.implicits._
    // 2 of 3 elements have bit0 set, one element null: strict majority
    // 2*2 > 3 -> set; with a second null (2*2 > 4 fails) -> unset
    val df = Seq(
      Seq[java.lang.Long](1L, 1L, null),
      Seq[java.lang.Long](1L, 1L, null, null))
      .toDF("vals")
    val out = df.select(GraftFunctions.simhash(col("vals"), 4)).collect()
    assert(out(0).getLong(0) === 1L)
    assert(out(1).getLong(0) === 0L)
  }

  test("dot_f stays inside WholeStageCodegen over a parquet scan") {
    // a local Seq relation constant-folds to LocalTableScan (itself proof
    // of interpreted eval); codegen shows on a real datasource plan
    val e = graft.Tables.embeddings(spark, "/root/testdata/sf0.001")
      .select(expr("transform(embedding, x -> cast(x as double))").as("v"))
      .select(GraftFunctions.dot(col("v"), col("v")).as("d"))
    val plan = e.queryExecution.executedPlan.toString
    // the "*(n)" prefix is the whole-stage-codegen marker: the Project
    // calling the dot kernel is inside a codegen stage, not interpreted
    assert(plan.linesIterator.exists(l => l.trim.matches(
      """\*\(\d+\) Project \[static_invoke\(graft\.functions\.VecDistKernels\.dotDD\(.*""")),
      plan)
    // and the generated Java actually compiles + runs
    assert(e.filter(col("d") > 0).count() > 0)
  }

  test("pq_encode throws on a vector, codeword or codebook of the wrong length") {
    import spark.implicits._
    // sub = 2, dsub = 2, k = 1: a vector holds 4 values, a codeword 2, a codebook 2
    val cbl = Seq((0, 0, Seq(1.0, 2.0)), (1, 0, Seq(3.0, 4.0)))
    val shortCw = Seq((0, 0, Seq(1.0, 2.0)), (1, 0, Seq(3.0)))
    def encode(vec: Seq[Double], cb: Seq[(Int, Int, Seq[Double])]): Seq[String] = {
      // parquet-backed so the kernel runs in a task, not at plan time
      val dir = java.nio.file.Files.createTempDirectory("graft_pq").toString
      Seq((vec, cb)).toDF("v", "c")
        .select(col("v"), expr(
          "transform(c, t -> named_struct('jj', t._1, 'cid', t._2, 'mu', t._3))").as("cbl"))
        .write.mode("overwrite").parquet(dir)
      val e = intercept[Exception] {
        spark.read.parquet(dir)
          .select(GraftFunctions.pqEncode(col("v"), col("cbl"), 2, 2, 1)).collect()
      }
      Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).toSeq
    }
    val short = encode(Seq(1.0, 2.0, 3.0), cbl)
    assert(short.exists(_.contains("pq_encode: vector length 3 != sub*dsub = 4")),
      short.mkString("\n"))
    val cw = encode(Seq(1.0, 2.0, 3.0, 4.0), shortCw)
    assert(cw.exists(_.contains("pq_encode: codeword (jj=1, cid=0) length 1 != dsub = 2")),
      cw.mkString("\n"))
    val cb = encode(Seq(1.0, 2.0, 3.0, 4.0), cbl.take(1))
    assert(cb.exists(_.contains("pq_encode: codebook holds 1 codewords != sub*k = 2")),
      cb.mkString("\n"))
  }
}
