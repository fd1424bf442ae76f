package graft.wiki

import graft.ops.Stored
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reference's flagship Categorizer pipeline (categorizer.py:124-191)
  * re-expressed as ONE Catalyst-planned dataflow.
  *
  * The reference splits this across a Spark job and a driver-side Python
  * loop: `process_html_files()` builds the frame (categorizer.py:124-141),
  * then `save_to_sql()` COLLECTS it and runs three sequential SQLAlchemy
  * passes with per-row point SELECTs to dedupe pages/categories and wire
  * the M2M bridge (categorizer.py:150-188) — the driver bottleneck
  * SURVEY.md §3.1 calls out. Here the dedup is an anti-join, the
  * AUTO_INCREMENT surrogate keys are deterministic `row_number()`s, and
  * the bridge is two hash joins — all executor-side, no collect().
  */
object Categorize {

  /** O-1 + O-2: whole-file text scan with source path attached
    * (categorizer.py:131). One row per top-level `*.html` file of `dir`;
    * `value` is the whole file, `file_path` the `input_file_name()` URI.
    *
    * Listing rule: `dir` is the one root path and `pathGlobFilter`
    * selects the pages, so the file index lists the directory once on
    * the driver. A `*.html` glob under `dir` would expand to one root
    * path per file, and above `parallelPartitionDiscovery.threshold`
    * (32 paths) the index lists those in a distributed job with one
    * task per file.
    *
    * Flat-directory contract: only files directly inside `dir` are
    * read. Plain subdirectories are ignored, as the glob ignored them.
    * A partition-style subdirectory (`k=v`) would turn `dir` into a
    * partitioned table and silently drop the top-level pages, so it is
    * rejected: Spark raises CONFLICTING_DIRECTORY_STRUCTURES when plain
    * subdirectories sit beside it, and the schema check below throws
    * otherwise.
    */
  def readPages(spark: SparkSession, dir: String): DataFrame = {
    val pages = spark.read.option("wholetext", "true")
      .option("pathGlobFilter", "*.html").text(dir)
    require(pages.columns.sameElements(Array("value")),
      s"crawl directory $dir must be flat: partition-style subdirectories " +
        s"add columns ${pages.columns.filter(_ != "value").mkString(", ")}")
    pages.withColumn("file_path", input_file_name())
  }

  /** The categorizer frame (categorizer.py:124-141): sanitize filename
    * (O-5), extract categories (O-6), whitespace word count over the RAW
    * html (O-8, categorizer.py:137), last-edited date (O-7).
    *
    * All three html probes come from ONE native `parse_page` evaluation
    * (the reference re-parses a fresh BeautifulSoup tree per UDF — its
    * documented flaw). Native evaluation also skips the Scala UDF
    * converter round-trips and a separate `split` pass per page.
    */
  def processHtmlFiles(spark: SparkSession, dir: String): DataFrame =
    readPages(spark, dir)
      .withColumn("p", graft.functions.GraftFunctions.parsePage(col("value")))
      .select(
        Html.sanitizeFilename(col("file_path")).as("file_name"),
        col("p.categories").as("categories"),
        col("p.word_count").as("word_count"),
        Html.lastmodToDate(col("p.lastmodText")).as("last_edited_date"))

  /** The normalized relational model (categorizer.py:39-68):
    * pages(id, file_name, word_count, last_edited_date),
    * categories(id, name), page_categories(page_id, category_id).
    */
  final case class Model(
      pages: DataFrame, categories: DataFrame, pageCategories: DataFrame)

  /** Spark-native rendering of save_to_sql's three driver loops
    * (categorizer.py:150-188):
    *
    *  - insert-if-absent (the reference's SELECT-then-INSERT per row,
    *    enforced by UNIQUE constraints) → LEFT-ANTI join against the
    *    existing dimension (O-16/O-18);
    *  - MySQL AUTO_INCREMENT ids → dense row numbers over the natural
    *    key (see [[mintIds]]), offset by the existing max id, so
    *    re-running is idempotent AND deterministic (unlike
    *    monotonically_increasing_id) — and a fresh load of 100 TB of
    *    new keys never funnels through one global-sort task;
    *  - the M2M wiring loop → explode (O-25) + two equi-joins on the
    *    natural keys (O-17); dims are small → broadcast-eligible.
    *
    * `existing` carries prior-run dimensions (empty frames for a fresh
    * load, like the reference's create-on-demand, categorizer.py:71-73).
    *
    * Each html file is parsed once: the narrow parsed frame (no html
    * column) is materialized first and feeds both id mints and the
    * bridge, which would otherwise each re-scan and re-parse the crawl.
    * The job that materializes it also observes two upper bounds, the
    * parsed row count (≥ new pages) and the summed `categories` sizes
    * (≥ new category names). They go to [[mintIds]] as `knownRows`, so
    * a crawl of at most [[graft.ops.BlockRanks.windowFormMaxRows]]
    * pages or names mints on the plain window and a larger one on the
    * range split; the ids are the same either way. The anti-joins
    * against `existing` only shrink the fresh frames, so the bounds
    * hold there too.
    * The minted dimensions are materialized too, so the bridge joins
    * stored ids instead of re-running the id mints' offset and window
    * plans.
    * The returned bridge is lazy but reads only these stored frames, so
    * every frame of the model is pinned to the `existing` snapshot taken
    * here, however late the caller reads it.
    */
  def normalize(processed: DataFrame, existing: Option[Model] = None): Model = {
    val (parsed, rowBound, nameBound) = storeParsed(processed)
    val newPagesRaw = parsed
      .select(col("file_name"), col("word_count"), col("last_edited_date"))
      .dropDuplicates("file_name")
    val newCatsRaw = parsed
      .select(explode(col("categories")).as("name"))
      .distinct()

    val (pageBase, catBase) = existing match {
      case Some(m) => (Some(m.pages), Some(m.categories))
      case None    => (None, None)
    }

    val freshPages = pageBase.fold(newPagesRaw)(ex =>
      newPagesRaw.join(ex.select("file_name"), Seq("file_name"), "left_anti"))
    val freshCats = catBase.fold(newCatsRaw)(ex =>
      newCatsRaw.join(ex.select("name"), Seq("name"), "left_anti"))

    // Both dimensions' max ids in ONE driver action (a cross join of two
    // single-row aggs), not one .first() per table.
    val (pageOffset, catOffset) = (pageBase, catBase) match {
      case (Some(p), Some(c)) =>
        val r = p.agg(coalesce(max(col("id")), lit(0L)).as("mp"))
          .crossJoin(c.agg(coalesce(max(col("id")), lit(0L)).as("mc")))
          .first()
        (r.getLong(0), r.getLong(1))
      case _ => (0L, 0L)
    }

    val pagesNew = mintIds(freshPages, "file_name", pageOffset, rowBound)
      .select("id", "file_name", "word_count", "last_edited_date")
    val catsNew = mintIds(freshCats, "name", catOffset, nameBound)
      .select("id", "name")

    val pages = Stored.checkpoint(pageBase.fold(pagesNew)(_.unionByName(pagesNew))).df
    val categories = Stored.checkpoint(catBase.fold(catsNew)(_.unionByName(catsNew))).df

    val pairs = parsed
      .select(col("file_name"), explode(col("categories")).as("name"))
      .distinct()
    val bridge = pairs
      .join(pages.select(col("id").as("page_id"), col("file_name")), "file_name")
      .join(categories.select(col("id").as("category_id"), col("name")), "name")
      .select("page_id", "category_id")

    Model(pages, categories, bridge)
  }

  /** The narrow parsed frame, stored ([[Stored]]), with the two bounds
    * its job observes: the row count, and the summed `categories` array
    * sizes with a null array counted as 0 (`size(null)` is -1 or null
    * depending on the ANSI setting; `greatest` skips the null). */
  private[graft] def storeParsed(processed: DataFrame): (DataFrame, Long, Long) = {
    val parsed = Stored.checkpoint(
      processed.select("file_name", "categories", "word_count", "last_edited_date"),
      coalesce(sum(greatest(size(col("categories")), lit(0))), lit(0L)).as("names"))
    (parsed.df, parsed.rows, parsed.metrics.getLong(1))
  }

  /** Adds `id` = `offset` + the 1-based rank of each row under `key`:
    * global `row_number() OVER (ORDER BY key)` ids, computed by
    * [[graft.ops.BlockRanks]] over one constant block. `knownRows` is
    * an upper bound on the rows of `df`, or -1 when unknown; a bound of
    * at most [[graft.ops.BlockRanks.windowFormMaxRows]] ranks in one
    * window task, anything else on the p-way range split.
    * `key` must be unique (callers dedupe upstream) and non-null: the
    * crawl comes from outside the program, so a null key fails the job
    * through an assert woven into the key column instead of being
    * minted an id. */
  private[graft] def mintIds(df: DataFrame, key: String, offset: Long,
      knownRows: Long = -1L): DataFrame =
    graft.ops.BlockRanks.withBlockRank(
        df.withColumn(key,
            when(assert_true(col(key).isNotNull,
              lit(s"Categorize: null `$key` violates the non-null key contract"))
              .isNull,
              col(key)))
          .withColumn("__blk", lit(0L)),
        "__blk", Seq(col(key)), "id", knownRows = knownRows)
      .withColumn("id", col("id") + lit(offset))
      .drop("__blk")

  /** One-call flagship pipeline: scan → extract → normalize. */
  def run(spark: SparkSession, dir: String): Model =
    normalize(processHtmlFiles(spark, dir))

  /** The analytical query the whole schema exists to serve
    * (README.md:23, "Category Distribution" in Superset):
    * pages-per-category, ranked.
    */
  def categoryDistribution(m: Model): DataFrame =
    m.pageCategories
      .join(m.categories.select(col("id").as("category_id"), col("name")),
        "category_id")
      .groupBy(col("name"))
      .agg(count(lit(1)).as("n_pages"))
      .orderBy(col("n_pages").desc, col("name"))

  /** O-27: the JDBC load the reference configured but never used
    * (categorizer.py:82-87 sketches exactly this URL/props shape and
    * save_to_sql falls back to the ORM loop instead). One
    * `df.write.jdbc` per table, pages/categories before the bridge for
    * FK ordering. Bulk-append form — for the reference's
    * insert-if-absent semantics against a live database use
    * [[syncToJdbc]]. JdbcSinkSpec exercises both against embedded
    * Derby (write → read-back → re-run idempotence), plus the
    * driver-resolution failure path for an unreachable server.
    */
  def saveToJdbc(m: Model, url: String, props: java.util.Properties): Unit = {
    // Explicit VARCHAR for the natural keys (matching the reference's
    // String(255) columns, categorizer.py:44-58): without it several
    // dialects (Derby included) create text as CLOB/TEXT, which breaks
    // pushed-down equality predicates and indexing on the key.
    m.pages.write.mode("append")
      .option("createTableColumnTypes", "file_name VARCHAR(255)")
      .jdbc(url, "pages", props)
    m.categories.write.mode("append")
      .option("createTableColumnTypes", "name VARCHAR(255)")
      .jdbc(url, "categories", props)
    m.pageCategories.write.mode("append").jdbc(url, "page_categories", props)
  }

  /** True iff the exception chain bottoms out in "table does not
    * exist" (Derby 42X05, MySQL 42S02, Postgres 42P01) — the ONE
    * failure that legitimately means "fresh database". Anything else
    * (connection refused, auth, timeout) must propagate: mapping it to
    * None would make [[syncToJdbc]] treat a POPULATED database as
    * empty and append duplicate rows with re-minted colliding ids.
    */
  private def tableMissing(e: Throwable): Boolean = {
    var c: Throwable = e
    while (c != null) {
      c match {
        case s: java.sql.SQLException
            if Set("42X05", "42S02", "42P01").contains(s.getSQLState) =>
          return true
        case _ =>
      }
      c = if (c.getCause eq c) null else c.getCause
    }
    false
  }

  /** Read a prior run's dimensions back from the database; None on a
    * fresh database (create-on-demand, categorizer.py:71-73). The
    * schema fetch is eager, so table absence surfaces here, not at
    * first action. Only "fresh" is forgiven: a transient load error
    * rethrows (see [[tableMissing]]), and a PARTIALLY initialized
    * store (a prior run crashed between the three table writes) fails
    * fast rather than silently re-minting ids against half the state.
    */
  def loadFromJdbc(spark: SparkSession, url: String,
      props: java.util.Properties): Option[Model] = {
    def read(t: String): Option[DataFrame] =
      try {
        val df = spark.read.jdbc(url, t, props)
        df.schema
        Some(df)
      } catch {
        case scala.util.control.NonFatal(e) if tableMissing(e) => None
      }
    (read("pages"), read("categories"), read("page_categories")) match {
      case (Some(p), Some(c), Some(pc)) => Some(Model(p, c, pc))
      case (None, None, None)           => None
      case (p, c, pc) =>
        val present = Seq("pages" -> p, "categories" -> c,
          "page_categories" -> pc).collect { case (n, Some(_)) => n }
        throw new IllegalStateException(
          s"JDBC store at $url is partially initialized (present: " +
            s"${present.mkString(", ")}) — repair or drop before syncing")
    }
  }

  /** The reference's full save_to_sql contract against a LIVE database
    * (categorizer.py:150-188): its per-row SELECT-then-INSERT under
    * UNIQUE constraints is exactly insert-if-absent — here: load the
    * existing dimensions, normalize against them (anti-join dedup +
    * max-id-offset surrogate keys), and append ONLY the delta rows, so
    * re-running on the same input writes nothing (idempotent) and new
    * input continues ids from the database's max (AUTO_INCREMENT
    * semantics). Set-based: three delta anti-joins instead of the
    * reference's per-row round-trips — the driver bottleneck SURVEY.md
    * §3.1 calls out.
    */
  def syncToJdbc(spark: SparkSession, processed: DataFrame, url: String,
      props: java.util.Properties): Model = {
    val existing = loadFromJdbc(spark, url, props)
    // normalize's model reads only blocks it stored before any write
    // here, so it is pinned to the PRE-WRITE database snapshot. Each
    // delta below anti-joins the live table that saveToJdbc then appends
    // it to; left lazy, it would be evaluated during that append and
    // could see rows the same write (or an earlier one) just inserted.
    // So every delta is materialized before the first write.
    val m = normalize(processed, existing)
    val delta = existing match {
      case None => m
      case Some(ex) => Model(
        Stored.checkpoint(m.pages.join(ex.pages.select(col("file_name")),
          Seq("file_name"), "left_anti")
          .select("id", "file_name", "word_count", "last_edited_date")).df,
        Stored.checkpoint(m.categories.join(ex.categories.select(col("name")),
          Seq("name"), "left_anti")
          .select("id", "name")).df,
        Stored.checkpoint(m.pageCategories.join(ex.pageCategories,
          Seq("page_id", "category_id"), "left_anti")).df)
    }
    saveToJdbc(delta, url, props)
    m
  }
}
