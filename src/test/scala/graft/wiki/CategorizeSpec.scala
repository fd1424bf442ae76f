package graft.wiki

import graft.SparkSpec
import java.nio.file.{Files, Path}
import java.nio.charset.StandardCharsets
import org.apache.spark.GraftListenerBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted}
import graft.ops.BlockRanks
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import scala.jdk.CollectionConverters._

/** End-to-end categorizer pipeline test (categorizer.py:124-191 →
  * Categorize): wholetext scan + input_file_name over fixture HTML
  * written by the test, single-pass extraction, explode → distinct →
  * anti-join → row_number surrogate keys → pages/categories/bridge.
  * Golden values hand-computed; idempotence (the UNIQUE-constraint
  * invariant, categorizer.py:52,65) and incremental-load key continuity
  * asserted explicitly.
  */
class CategorizeSpec extends SparkSpec {

  private def page(cats: Seq[String], lastmod: Option[String], body: String): String = {
    val catHtml =
      if (cats.isEmpty) ""
      else cats.map(c => s"""<li><a href="/wiki/Category:$c">$c</a></li>""")
        .mkString("""<div id="mw-normal-catlinks"><ul>""", "", "</ul></div>")
    val lm = lastmod.fold("")(d =>
      s"""<li id="footer-info-lastmod">This page was last edited on $d, at 10:11 (UTC).</li>""")
    s"<html><body><p>$body</p>$catHtml$lm</body></html>"
  }

  // NOTE "spark core.html": input_file_name() yields the percent-encoded
  // file URI ("spark%20core.html") — exactly what the reference's UDF
  // sees from PySpark too — so the sanitized name is "spark_20core".
  private val fixtures: Map[String, String] = Map(
    "spark core.html" -> page(Seq("Big data", "JVM"), Some("12 March 2025"), "spark body"),
    "hadoop.html" -> page(Seq("Big data"), None, "hadoop body text"),
    "misc.html" -> page(Seq.empty, Some("32 Foobruary 999"), "no cats here"))

  private def writeFixtures(): Path = {
    val dir = Files.createTempDirectory("graft-cat-")
    fixtures.foreach { case (name, content) =>
      Files.write(dir.resolve(name), content.getBytes(StandardCharsets.UTF_8))
    }
    dir
  }

  test("processHtmlFiles: wholetext + input_file_name + extraction frame (categorizer.py:124-141)") {
    val dir = writeFixtures()
    val rows = Categorize.processHtmlFiles(spark, dir.toString)
      .orderBy("file_name").collect().toSeq
    assert(rows.map(_.getString(0)) === Seq("hadoop", "misc", "spark_20core"))
    val byName = rows.map(r => r.getString(0) -> r).toMap
    assert(byName("spark_20core").getSeq[String](1) === Seq("Big data", "JVM"))
    assert(byName("hadoop").getSeq[String](1) === Seq("Big data"))
    assert(byName("misc").getSeq[String](1) === Seq.empty)
    // word_count = whitespace-naive split of the RAW html (categorizer.py:137)
    fixtures.foreach { case (name, content) =>
      val key = name.replace(".html", "").replace(" ", "_20")
      assert(byName(key).getInt(2) === content.split(" ", -1).length,
        s"word_count mismatch for $key")
    }
    assert(byName("spark_20core").getDate(3) === java.sql.Date.valueOf("2025-03-12"))
    assert(byName("hadoop").get(3) === null)   // li absent
    assert(byName("misc").get(3) === null)     // unparseable date -> null
  }

  /** Run `body` with a listener attached; returns its result and the
    * events the listener collected, after the bus has drained. */
  private def listening[A, E](pick: PartialFunction[AnyRef, E])(body: => A): (A, Seq[E]) = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[E]()
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        pick.lift(e).foreach(seen.add)
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        pick.lift(e).foreach(seen.add)
    }
    val sc = spark.sparkContext
    GraftListenerBridge.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val a = body
      GraftListenerBridge.drainListenerBus(sc)
      (a, seen.asScala.toSeq)
    } finally sc.removeSparkListener(l)
  }

  /** A crawl above Spark's 32-path parallel-listing threshold, plus a
    * non-html file and a plain subdirectory holding a page. */
  private def writeLargeCrawl(): Path = {
    val dir = writeFixtures()
    (1 to 40).foreach { i =>
      Files.write(dir.resolve(s"page$i.html"),
        page(Seq(s"C${i % 7}"), Some("1 May 2024"), s"body $i").getBytes(StandardCharsets.UTF_8))
    }
    Files.write(dir.resolve("notes.txt"), "not html".getBytes(StandardCharsets.UTF_8))
    val sub = Files.createDirectory(dir.resolve("sub"))
    Files.write(sub.resolve("nested.html"), page(Seq("Nested"), None, "nested")
      .getBytes(StandardCharsets.UTF_8))
    dir
  }

  test("readPages listing contract: top-level *.html only, driver-side listing, flat directory") {
    val dir = writeLargeCrawl()
    def snapshot(df: DataFrame) = df.select("value", "file_path").collect()
      .map(r => (r.getString(0), r.getString(1))).sortBy(_._2).toSeq
    val jobStarts: PartialFunction[AnyRef, Int] = { case e: SparkListenerJobStart => e.jobId }

    val (pages, listingJobs) = listening(jobStarts)(Categorize.readPages(spark, dir.toString))
    assert(listingJobs.isEmpty, s"building the frame launched jobs $listingJobs")
    // control: the per-file glob form lists in a distributed job
    val (globbed, globJobs) = listening(jobStarts)(
      spark.read.option("wholetext", "true").text(s"$dir/*.html")
        .withColumn("file_path", org.apache.spark.sql.functions.input_file_name()))
    assert(globJobs.nonEmpty, "the glob control should launch a listing job")

    val rows = snapshot(pages)
    assert(rows.size === fixtures.size + 40)
    assert(rows === snapshot(globbed))
    assert(rows.exists(_._2.endsWith("/spark%20core.html")))
    assert(!rows.exists(r => r._2.contains("/sub/") || r._2.endsWith("notes.txt")))

    // a partition-style subdirectory fails loudly, beside plain
    // subdirectories (Spark's CONFLICTING_DIRECTORY_STRUCTURES) or alone
    val part = Files.createDirectory(dir.resolve("a=1"))
    Files.write(part.resolve("p.html"), page(Nil, None, "part").getBytes(StandardCharsets.UTF_8))
    val conflicting = intercept[Throwable](Categorize.readPages(spark, dir.toString))
    assert(conflicting.getMessage.contains("CONFLICTING_DIRECTORY_STRUCTURES") ||
      conflicting.getMessage.toLowerCase.contains("conflicting directory"), conflicting.getMessage)
    Files.delete(dir.resolve("sub/nested.html"))
    Files.delete(dir.resolve("sub"))
    val partitioned = intercept[IllegalArgumentException](Categorize.readPages(spark, dir.toString))
    assert(partitioned.getMessage.contains("must be flat"), partitioned.getMessage)
  }

  test("run parses each html file once and stores no html column") {
    val dir = writeLargeCrawl()
    val out = Files.createTempDirectory("graft-cat-model-")
    // stages that scan files: the html scan is the only file scan here
    val scanRecords: PartialFunction[AnyRef, Long] = {
      case e: SparkListenerStageCompleted
          if e.stageInfo.rddInfos.exists(_.name == "FileScanRDD") =>
        e.stageInfo.taskMetrics.inputMetrics.recordsRead
    }
    val (m, records) = listening(scanRecords) {
      val m = Categorize.run(spark, dir.toString)
      m.pages.write.parquet(out.resolve("pages").toString)
      m.categories.write.parquet(out.resolve("categories").toString)
      m.pageCategories.write.parquet(out.resolve("page_categories").toString)
      m
    }
    val nPages = fixtures.size + 40
    assert(records.sum === nPages, s"html scan stages read $records records")
    assert(spark.read.parquet(out.resolve("pages").toString).count() === nPages)

    val stored = Seq(m.pages, m.categories, m.pageCategories).flatMap(
      _.queryExecution.analyzed.collect { case r: LogicalRDD => r.output.map(_.name) })
    assert(stored.contains(Seq("file_name", "categories", "word_count", "last_edited_date")),
      s"parsed frame not stored: $stored")
    assert(!stored.flatten.exists(c => c == "value" || c == "html"), s"stored html: $stored")
  }

  /** Job starts and completed stage names, in one event stream. */
  private val jobsAndStages: PartialFunction[AnyRef, (String, String)] = {
    case e: SparkListenerJobStart => ("job", e.jobId.toString)
    case e: SparkListenerStageCompleted => ("stage", e.stageInfo.name)
  }

  private def stageNames(events: Seq[(String, String)]): Seq[String] =
    events.collect { case ("stage", name) => name }

  private def idsOf(df: DataFrame, key: String): Seq[(Long, String)] =
    df.select(col("id"), col(key)).collect().toSeq
      .map(r => (r.getLong(0), r.getString(1))).sortBy(_._1)

  /** Jobs `Categorize.run` launches on [[writeLargeCrawl]]: the parse
    * checkpoint (which also observes the mint bounds) and the two
    * stored dimensions with their AQE stages. The range-split mints
    * ran 19. */
  private val maxRunJobs = 7

  test("a small crawl mints on the window path: no BlockRanks checkpoint, bounded jobs") {
    val dir = writeLargeCrawl()
    val out = Files.createTempDirectory("graft-cat-shape-")
    val (m, runEvents) = listening(jobsAndStages)(Categorize.run(spark, dir.toString))
    val (_, writeEvents) = listening(jobsAndStages) {
      m.pages.write.parquet(out.resolve("pages").toString)
      m.categories.write.parquet(out.resolve("categories").toString)
      m.pageCategories.write.parquet(out.resolve("page_categories").toString)
    }
    val runJobs = runEvents.count(_._1 == "job")
    assert(runJobs <= maxRunJobs, s"run launched $runJobs jobs: ${stageNames(runEvents)}")
    val split = stageNames(runEvents ++ writeEvents)
      .filter(_.startsWith("localCheckpoint at BlockRanks.scala"))
    assert(split.isEmpty, s"range-split stages ran: $split")

    // the window-path ids are the range split's
    val processed = Categorize.processHtmlFiles(spark, dir.toString)
    assert(idsOf(m.pages, "file_name") === idsOf(Categorize.mintIds(
      processed.select("file_name").distinct(), "file_name", 0L, knownRows = -1L), "file_name"))
    assert(idsOf(m.categories, "name") === idsOf(Categorize.mintIds(
      processed.select(explode(col("categories")).as("name")).distinct(), "name", 0L,
      knownRows = -1L), "name"))
  }

  private def processedFrame(rows: Seq[Row]): DataFrame = spark.createDataFrame(
    spark.sparkContext.parallelize(rows, 2), StructType(Seq(
      StructField("file_name", StringType), StructField("categories", ArrayType(StringType)),
      StructField("word_count", IntegerType), StructField("last_edited_date", DateType))))

  test("storeParsed bounds new pages and names from above; the model is the hand-computed one") {
    val d = java.sql.Date.valueOf("2024-05-01")
    // a null array, an empty array, a repeated category, a repeated file_name
    val processed = processedFrame(Seq(
      Row("b", null, 1, null), Row("a", Seq.empty[String], 2, d),
      Row("c", Seq("X", "Y", "X"), 3, d), Row("d", Seq("Y"), 4, null),
      Row("d", Seq("Z"), 4, null)))
    // size(null) is null under ANSI and -1 without it
    for (ansi <- Seq("true", "false")) withConf("spark.sql.ansi.enabled" -> ansi) {
      val (parsed, rows, names) = Categorize.storeParsed(processed)
      assert((rows, names) === ((5L, 5L)), s"ansi=$ansi")
      assert(parsed.count() === 5L)
      val m = Categorize.normalize(processed)
      assert(idsOf(m.pages, "file_name") ===
        Seq((1L, "a"), (2L, "b"), (3L, "c"), (4L, "d")), s"ansi=$ansi")
      assert(idsOf(m.categories, "name") === Seq((1L, "X"), (2L, "Y"), (3L, "Z")), s"ansi=$ansi")
      val bridge = m.pageCategories.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted
      assert(bridge === Seq((3L, 1L), (3L, 2L), (4L, 2L), (4L, 3L)), s"ansi=$ansi")
    }
    // no rows, distributed or local: zero bounds, empty model
    val schema = processed.schema
    for (empty <- Seq(processedFrame(Nil),
        spark.createDataFrame(java.util.List.of[Row](), schema))) {
      val (_, rows, names) = Categorize.storeParsed(empty)
      assert((rows, names) === ((0L, 0L)))
      val m = Categorize.normalize(empty)
      assert(Seq(m.pages, m.categories, m.pageCategories).map(_.count()) === Seq(0L, 0L, 0L))
    }
  }

  test("over windowFormMaxRows pages the mint takes the range split, dense over 1..n") {
    val n = BlockRanks.windowFormMaxRows + 1
    val processed = spark.range(n).select(
      format_string("p%06d", col("id")).as("file_name"),
      lit(null).cast(ArrayType(StringType)).as("categories"),
      lit(1).as("word_count"), lit(null).cast(DateType).as("last_edited_date"))
    val (m, events) = listening(jobsAndStages)(Categorize.normalize(processed))
    assert(stageNames(events).exists(_.startsWith("localCheckpoint at BlockRanks.scala")),
      s"no range-split stage: ${stageNames(events)}")
    // file_name p%06d of 0-based i sorts as i, so its id is i + 1
    val r = m.pages.agg(min("id"), max("id"), countDistinct("id"), count(lit(1)),
      sum(when(col("id") =!= substring(col("file_name"), 2, 6).cast("long") + 1, 1)
        .otherwise(0)).cast("long")).head()
    assert(r === Row(1L, n, n, n, 0L))
    assert(m.categories.count() === 0L)
  }

  test("normalize: deterministic surrogate keys, natural-key dedup, M2M bridge (categorizer.py:150-188)") {
    val dir = writeFixtures()
    val m = Categorize.run(spark, dir.toString)
    val pages = m.pages.orderBy("id").collect().toSeq
    assert(pages.map(r => (r.getLong(0), r.getString(1))) ===
      Seq((1L, "hadoop"), (2L, "misc"), (3L, "spark_20core")))
    val cats = m.categories.orderBy("id").collect().toSeq
    assert(cats.map(r => (r.getLong(0), r.getString(1))) ===
      Seq((1L, "Big data"), (2L, "JVM")))
    val bridge = m.pageCategories.orderBy("page_id", "category_id").collect().toSeq
    assert(bridge.map(r => (r.getLong(0), r.getLong(1))) ===
      Seq((1L, 1L), (3L, 1L), (3L, 2L)))
  }

  test("categoryDistribution: the README.md:23 analysis over the bridge") {
    val dir = writeFixtures()
    val dist = Categorize.categoryDistribution(Categorize.run(spark, dir.toString))
      .collect().toSeq.map(r => (r.getString(0), r.getLong(1)))
    assert(dist === Seq(("Big data", 2L), ("JVM", 1L)))
  }

  test("normalize is idempotent: reloading the same pages inserts nothing (UNIQUE invariant)") {
    val dir = writeFixtures()
    val processed = Categorize.processHtmlFiles(spark, dir.toString)
    val first = Categorize.normalize(processed)
    val second = Categorize.normalize(processed, Some(first))
    assert(second.pages.count() === first.pages.count())
    assert(second.categories.count() === first.categories.count())
    assert(second.pages.orderBy("id").collect().toSeq ===
      first.pages.orderBy("id").collect().toSeq)
  }

  test("incremental load: new page continues ids from existing max (AUTO_INCREMENT semantics)") {
    val dir = writeFixtures()
    val first = Categorize.run(spark, dir.toString)
    val dir2 = Files.createTempDirectory("graft-cat2-")
    Files.write(dir2.resolve("zeppelin.html"),
      page(Seq("JVM", "Notebooks"), Some("1 January 2026"), "z")
        .getBytes(StandardCharsets.UTF_8))
    val processed2 = Categorize.processHtmlFiles(spark, dir2.toString)
    val m2 = Categorize.normalize(processed2, Some(first))
    val pages = m2.pages.orderBy("id").collect().toSeq
    assert(pages.map(r => (r.getLong(0), r.getString(1))) ===
      Seq((1L, "hadoop"), (2L, "misc"), (3L, "spark_20core"), (4L, "zeppelin")))
    val cats = m2.categories.orderBy("id").collect().toSeq
    // "JVM" already exists as id 2; only "Notebooks" is minted, at id 3
    assert(cats.map(r => (r.getLong(0), r.getString(1))) ===
      Seq((1L, "Big data"), (2L, "JVM"), (3L, "Notebooks")))
  }

  test("mintIds: a null natural key fails the job instead of being minted an id") {
    val s = spark
    import s.implicits._
    val bad = (Seq("a", "b") :+ null).toDF("file_name")
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))
    // on both paths: the assert fires in the eager range-split checkpoint
    // or at the action, and surfaces as a SparkRuntimeException wrapping it
    for (knownRows <- Seq(-1L, 3L)) {
      val e = intercept[Exception] {
        Categorize.mintIds(bad, "file_name", 0L, knownRows).collect()
      }
      assert(messages(e).exists(_.contains("non-null key contract")),
        s"knownRows=$knownRows: expected the null-key assert, got: ${messages(e).mkString(" | ")}")
    }
  }
}
