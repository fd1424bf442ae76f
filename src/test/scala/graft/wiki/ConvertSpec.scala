package graft.wiki

import graft.SparkSpec
import java.nio.file.Files
import java.nio.charset.StandardCharsets

/** Converter pipeline round-trip (converter.py:46-66 → Convert): scan →
  * text extraction → parquet overwrite → re-read equals the golden frame.
  */
class ConvertSpec extends SparkSpec {

  test("convert: extract_text + parquet round-trip preserves (file_name, extracted_text)") {
    val in = Files.createTempDirectory("graft-conv-in-")
    val out = Files.createTempDirectory("graft-conv-out-").resolve("texts")
    Files.write(in.resolve("spark page.html"),
      ("<html><head><title>drop me</title><style>x{}</style></head>" +
        "<body><script>var a;</script><p>Apache <b>Spark</b> engine.</p>" +
        "<div>more &amp; text</div></body></html>")
        .getBytes(StandardCharsets.UTF_8))
    Files.write(in.resolve("tiny.html"),
      "<html><body><p>just this</p></body></html>".getBytes(StandardCharsets.UTF_8))

    val returned = Convert.run(spark, in.toString, out.toString)
    // the returned frame is what a plain re-read of the output gives
    val reread = spark.read.parquet(out.toString)
    assert(returned.schema === reread.schema)
    assert(returned.orderBy("file_name").collect().toSeq ===
      reread.orderBy("file_name").collect().toSeq)
    val back = returned
      .orderBy("file_name").collect().toSeq.map(r => (r.getString(0), r.getString(1)))
    assert(back === Seq(
      ("spark_20page", "Apache Spark engine. more & text"),
      ("tiny", "just this")))
  }

  test("convert: overwrite mode replaces prior output (converter.py:60)") {
    val in = Files.createTempDirectory("graft-conv2-in-")
    val out = Files.createTempDirectory("graft-conv2-out-").resolve("texts")
    Files.write(in.resolve("a.html"),
      "<body><p>first</p></body>".getBytes(StandardCharsets.UTF_8))
    Convert.run(spark, in.toString, out.toString)
    Files.write(in.resolve("a.html"),
      "<body><p>second</p></body>".getBytes(StandardCharsets.UTF_8))
    val back = Convert.run(spark, in.toString, out.toString).collect().toSeq
    assert(back.map(r => (r.getString(0), r.getString(1))) === Seq(("a", "second")))
  }
}
