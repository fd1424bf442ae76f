package graft.functions

import graft.SparkSpec
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Every [[GraftFunctions]] handle, table-driven, over one RDD-backed
  * fixture (a null row, an empty row and two normal rows; RDD-backed so
  * nothing constant-folds at plan time):
  *  - whole-stage codegen and the interpreted path
  *    (`factoryMode=NO_CODEGEN`, `wholeStage=false`) return the same
  *    rows, compared through their string form (bit-exact for doubles);
  *  - each handle's output DataType and nullability are pinned, over
  *    nullable inputs and over non-null inputs.
  */
class KernelParitySpec extends SparkSpec {

  private val cs2T = ArrayType(StructType(Seq(
    StructField("cid", IntegerType), StructField("mu", ArrayType(DoubleType)))))
  private val cs3T = ArrayType(StructType(Seq(
    StructField("cid", LongType), StructField("cv", ArrayType(DoubleType)),
    StructField("cn", DoubleType))))
  private val cblT = ArrayType(StructType(Seq(
    StructField("jj", IntegerType), StructField("cid", IntegerType),
    StructField("mu", ArrayType(DoubleType)))))

  /** The fixture schema; `nullable = false` makes every column and array
    * element non-null (used for the nullability pins only). */
  private def schema(nullable: Boolean): StructType = {
    def arr(t: DataType) = ArrayType(t, containsNull = nullable)
    StructType(Seq(
      StructField("id", IntegerType, nullable = false),
      StructField("a", arr(DoubleType), nullable),
      StructField("b", arr(DoubleType), nullable),
      StructField("l", arr(LongType), nullable),
      StructField("f", arr(FloatType), nullable),
      StructField("s", arr(StringType), nullable),
      StructField("html", StringType, nullable),
      StructField("x", IntegerType, nullable),
      StructField("y", IntegerType, nullable),
      StructField("nrm", DoubleType, nullable),
      StructField("cs2", cs2T, nullable),
      StructField("cs3", cs3T, nullable),
      StructField("cbl", cblT, nullable),
      StructField("codes", arr(IntegerType), nullable),
      StructField("qdt", arr(ArrayType(DoubleType)), nullable)))
  }

  private val page =
    "<html><body><div id=\"mw-normal-catlinks\"><ul><li><a>Alpha</a></li></ul></div>" +
      "<li id=\"footer-info-lastmod\">This page was last edited on 3 May 2020, " +
      "at 10:11 (UTC).</li><p>some text here</p></body></html>"

  private def normal(id: Int, d: Double): Row = Row(id,
    Seq(1.0 + d, -2.0, 3.5, 0.25), Seq(4.0, 5.0 - d, -6.0, 1e-3),
    Seq(3L + id, 5L, 12L, -7L), Seq(1.5f, -2.25f + d.toFloat, 0.125f, 8f),
    Seq("the", "quick", s"fox$id", "jumps"), page, 3 + id, 5, 2.0 + d,
    Seq(Row(0, Seq(1.0, 2.0, 3.0, 4.0)), Row(1, Seq(4.0, -2.0, 3.0, 0.0))),
    Seq(Row(0L, Seq(1.0, 0.0, 0.0, 0.0), 1.0), Row(1L, Seq(0.0, -1.0, 1.0, 0.0), 1.5)),
    Seq(Row(0, 0, Seq(1.0, -2.0)), Row(0, 1, Seq(4.0, 5.0)),
      Row(1, 0, Seq(3.0, 0.0)), Row(1, 1, Seq(-7.0, 12.0))),
    Seq(1, 0), Seq(Seq(0.5, 1.5), Seq(2.5 + d, 3.5)))

  private def fixture: DataFrame = {
    val nullRow = Row(0 +: Seq.fill(14)(null): _*)
    val emptyRow = Row(1, Seq(), Seq(), Seq(), Seq(), Seq(), "", 0, 0, 1.0,
      Seq(), Seq(), Seq(), Seq(), Seq())
    val rows = Seq(nullRow, emptyRow, normal(2, 0.0), normal(3, 0.5))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema(nullable = true))
  }

  private val quantAuditT = StructType(Seq(
    StructField("scale", DoubleType, nullable = false),
    StructField("q_sum", LongType, nullable = false),
    StructField("sq_err", DoubleType, nullable = false)))
  private val quantVecT = StructType(Seq(
    StructField("v", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("scale", DoubleType, nullable = false),
    StructField("q", ArrayType(DoubleType, containsNull = false), nullable = false),
    StructField("nrm", DoubleType, nullable = false)))
  private val parseT = StructType(Seq(
    StructField("categories", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("lastmodText", StringType, nullable = true),
    StructField("text", StringType, nullable = false),
    StructField("word_count", IntegerType, nullable = false)))

  /** One handle: its column, its DataType over the nullable fixture,
    * whether it is nullable over non-null inputs, and which rows it
    * accepts (pq_encode throws on a vector of the wrong length, so its
    * cases skip the empty row). */
  private case class Case(name: String, c: Column, dataType: DataType,
      nullableOnNonNull: Boolean, keep: Column = lit(true))

  private val notEmpty = col("a").isNull || size(col("a")) =!= 0

  private val cases = Seq(
    Case("simhash", GraftFunctions.simhash(col("l"), 8), LongType, false),
    Case("dot", GraftFunctions.dot(col("a"), col("b")), DoubleType, false),
    Case("l2sq", GraftFunctions.l2sq(col("l"), col("a")), DoubleType, false),
    Case("l2argmin", GraftFunctions.l2argmin(col("l"), col("cs2")),
      StructType(Seq(StructField("d", DoubleType, nullable = false),
        StructField("c", IntegerType, nullable = false))), false),
    Case("cosArgmax", GraftFunctions.cosArgmax(col("a"), col("nrm"), col("cs3")),
      StructType(Seq(StructField("cid", LongType, nullable = false),
        StructField("cos", DoubleType, nullable = false))), false),
    Case("pqEncode(long)", GraftFunctions.pqEncode(col("l"), col("cbl"), 2, 2, 2),
      ArrayType(IntegerType, containsNull = false), false, notEmpty),
    Case("pqEncode(double)", GraftFunctions.pqEncode(col("a"), col("cbl"), 2, 2, 2),
      ArrayType(IntegerType, containsNull = false), false, notEmpty),
    Case("quantizeAudit(double)", GraftFunctions.quantizeAudit(col("a")), quantAuditT, true),
    Case("quantizeAudit(float)", GraftFunctions.quantizeAudit(col("f")), quantAuditT, true),
    Case("quantizeVec(double)", GraftFunctions.quantizeVec(col("a")), quantVecT, true),
    Case("quantizeVec(float)", GraftFunctions.quantizeVec(col("f")), quantVecT, true),
    Case("pqAdc", GraftFunctions.pqAdc(col("codes"), col("qdt")), DoubleType, false),
    Case("md5Longs", GraftFunctions.md5Longs(col("s"), 7),
      ArrayType(LongType, containsNull = true), false),
    Case("rollingHash", GraftFunctions.rollingHash(col("l")), LongType, true),
    Case("minhash64(string)", GraftFunctions.minhash64(col("s"), 4),
      ArrayType(LongType, containsNull = false), false),
    Case("minhash64(long)", GraftFunctions.minhash64(col("l"), 4),
      ArrayType(LongType, containsNull = false), false),
    Case("parsePage", GraftFunctions.parsePage(col("html")), parseT, false),
    Case("ngrams", GraftFunctions.ngrams(col("s"), 2),
      ArrayType(StringType, containsNull = false), false),
    Case("zorder2", GraftFunctions.zorder2(col("x"), col("y")), LongType, false))

  private def run(c: Case): Seq[String] =
    fixture.filter(c.keep).select(col("id"), c.c.as("r")).orderBy("id")
      .collect().toSeq.map(_.toString)

  test("every handle returns the same rows under codegen and interpreted eval") {
    val rowsKept = fixture.filter(notEmpty).count()
    assert(rowsKept === 3) // the null row and both normal rows
    cases.foreach { c =>
      val compiled = run(c)
      val interpreted = withConf(
          "spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
          "spark.sql.codegen.wholeStage" -> "false") { run(c) }
      assert(compiled.nonEmpty && compiled.head.endsWith(",null]"),
        s"${c.name}: the null row must give null: $compiled")
      assert(compiled === interpreted, s"${c.name}: codegen vs interpreted")
    }
  }

  test("every handle keeps its output DataType and nullability") {
    val nonNull = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema(nullable = false))
    cases.foreach { c =>
      val f = fixture.select(c.c.as("r")).schema("r")
      assert(f.dataType === c.dataType, s"${c.name}: dataType")
      assert(f.nullable, s"${c.name}: nullable over nullable inputs")
      val nn = nonNull.select(c.c.as("r")).schema("r")
      val expected = c.name match {
        // md5_longs' elements follow the input's containsNull
        case "md5Longs" => ArrayType(LongType, containsNull = false)
        case _ => c.dataType
      }
      assert(nn.dataType === expected, s"${c.name}: dataType over non-null inputs")
      assert(nn.nullable === c.nullableOnNonNull, s"${c.name}: nullable over non-null inputs")
    }
  }

  test("element-type-dependent handles reject a wrong element type at analysis") {
    Seq(GraftFunctions.pqEncode(col("s"), col("cbl"), 2, 2, 2),
      GraftFunctions.quantizeAudit(col("s")), GraftFunctions.quantizeVec(col("l")),
      GraftFunctions.md5Longs(col("l"), 7), GraftFunctions.minhash64(col("a"), 4))
      .foreach { c =>
        val e = intercept[org.apache.spark.sql.AnalysisException] {
          fixture.select(c).schema
        }
        assert(e.getCondition === "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", e.getMessage)
      }
  }
}
