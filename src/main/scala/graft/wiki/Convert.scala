package graft.wiki

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The reference's Converter pipeline (converter.py:27-66): strip HTML to
  * plain text and persist as parquet — the one pipeline the reference
  * already runs Spark-native end-to-end (SURVEY.md §3.2). Same shape
  * here: wholetext scan (O-1/O-2) → sanitize filename (O-5) → extract
  * text (O-9) → select → parquet overwrite (O-26). The write is the
  * action; everything stays executor-parallel.
  */
object Convert {

  /** converter.py:46-58: `value`+`file_path` → (file_name, extracted_text). */
  def processHtmlFiles(spark: SparkSession, dir: String): DataFrame =
    Categorize.readPages(spark, dir)
      .withColumn("file_name", Html.sanitizeFilename(col("file_path")))
      .withColumn("extracted_text", Html.extractTextUdf(col("value")))
      .select("file_name", "extracted_text")

  /** converter.py:60-61: overwrite-mode parquet sink. */
  def saveToParquet(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Full pipeline: scan → extract → write → return the re-read frame
    * (what a downstream consumer sees). The re-read carries the written
    * frame's schema, as nullable as the parquet writer stores it, so no
    * job reads the footers back to infer it.
    */
  def run(spark: SparkSession, htmlDir: String, outPath: String): DataFrame = {
    val texts = processHtmlFiles(spark, htmlDir)
    saveToParquet(texts, outPath)
    spark.read
      .schema(StructType(texts.schema.map(_.copy(nullable = true))))
      .parquet(outPath)
  }
}
