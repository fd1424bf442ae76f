package graft.wiki

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** HTML extraction ops matching the reference ETL's BeautifulSoup UDFs on
  * well-formed (fixture) HTML, plus the filename sanitizer.
  *
  * sanitizeFilename is pure built-ins (Catalyst sees through it); the two
  * tree-shaped extractions (category list, text with subtree removal) are
  * Scala UDFs — the same boundary the survey drew (SURVEY.md §7): UDFs
  * only where the semantics are genuinely tree-structured, native
  * expressions everywhere else. Scala UDFs run in the executor JVM (no
  * Python-worker serialization wall like the reference's
  * BatchEvalPython nodes).
  */
object Html {

  /** Filename sanitizer per ETL/tasks/utils.py:4-11: basename via
    * `[^/]+$` ('' when the path ends with '/'), characters outside
    * [a-zA-Z0-9._-] replaced with '_', then EVERY '.html' occurrence
    * removed (the reference uses str.replace, not a suffix strip —
    * 'a.html.b.html' -> 'a.b'). Pure built-ins, no UDF.
    */
  def sanitizeFilename(filePath: Column): Column =
    regexp_replace(
      regexp_replace(
        regexp_extract(filePath, "[^/]+$", 0),
        "[^a-zA-Z0-9._-]", "_"),
      "\\.html", "")

  /** Decode the handful of HTML entities that matter for fixture parity
    * with BeautifulSoup's full entity decoding. Guarded on '&' so the
    * common no-entity page pays one indexOf, not six full string copies
    * (this sits on the per-row hot path of the extraction UDFs).
    */
  private def decodeEntities(s: String): String =
    if (s.indexOf('&') < 0) s
    else s.replace("&amp;", "&").replace("&lt;", "<").replace("&gt;", ">")
      .replace("&quot;", "\"").replace("&#39;", "'").replace("&nbsp;", " ")

  // All regexes are compiled ONCE at object init (executor-side, on
  // first task touching the UDF) — never per row. String.replaceAll /
  // inline `".r"` would recompile the Pattern on every invocation, a
  // silent ~5-10× constant on the per-row hot path at corpus scale.
  private val TagRe = java.util.regex.Pattern.compile("<[^>]*>")
  private val WsRe = java.util.regex.Pattern.compile("\\s+")
  private val DivRe =
    """(?is)<div[^>]*\bid\s*=\s*["']mw-normal-catlinks["'][^>]*>(.*?)</div>""".r
  private val UlRe = """(?is)<ul[^>]*>(.*?)</ul>""".r
  private val ARe = """(?is)<a\b[^>]*>(.*?)</a>""".r
  private val LiRe =
    """(?is)<li[^>]*\bid\s*=\s*["']footer-info-lastmod["'][^>]*>(.*?)</li>""".r
  // Comments are stripped FIRST, as their own pass, replacing with ''
  // (not ' ') — BeautifulSoup parity: a comment is a node boundary, not
  // whitespace, so 'foo<!--c-->bar' yields 'foobar'. Running this before
  // the subtree pass also means a '</script>' hidden inside a comment
  // inside a script block can no longer terminate the lazy subtree match
  // early and leak comment remnants into the text.
  private val CommentRe = java.util.regex.Pattern.compile("(?s)<!--.*?-->")
  // One alternation pattern for the tag subtrees extract_text removes
  // wholesale (script/style/head/title/noscript via a backreference,
  // meta tags) — a SINGLE scan of the page instead of the sequential
  // replaceAll passes it replaces. Equivalent on well-formed pages:
  // matches are non-overlapping and leftmost-first, and those subtree
  // tags don't nest inside each other in valid HTML.
  private val RemovalsRe = java.util.regex.Pattern.compile(
    "(?is)<(script|style|head|title|noscript)\\b[^>]*>.*?</\\1\\s*>|<meta\\b[^>]*/?>")
  private val HrefRe = """(?is)<a\b[^>]*\bhref\s*=\s*["']([^"']*)["']""".r

  /** Text of one element with nested tags stripped, per BeautifulSoup
    * `get_text(strip=True)` on an inline element.
    */
  private def innerText(html: String): String =
    WsRe.split(decodeEntities(TagRe.matcher(html).replaceAll(" ")))
      .filter(_.nonEmpty).mkString(" ").trim

  /** Category list per categorizer.py:89-101: the first <ul> inside
    * <div id="mw-normal-catlinks">, text of each <a>; empty when the div
    * or the ul is absent.
    */
  val extractCategories: String => Seq[String] = { html =>
    if (html == null) Seq.empty
    else {
      DivRe.findFirstMatchIn(html) match {
        case None => Seq.empty
        case Some(m) =>
          UlRe.findFirstMatchIn(m.group(1)) match {
            case None => Seq.empty
            case Some(ul) =>
              ARe.findAllMatchIn(ul.group(1)).map(a => innerText(a.group(1))).toSeq
          }
      }
    }
  }

  /** The lastmod date STRING per categorizer.py:103-116: text of
    * <li id="footer-info-lastmod">, ' (UTC)' removed, the boilerplate
    * prefix removed, truncated at the first comma. Returns null when the
    * li is absent; the date parse itself stays a column op (see
    * [[lastEditedDate]]) so only the tree probe is a UDF.
    */
  val extractLastmodText: String => String = { html =>
    if (html == null) null
    else {
      LiRe.findFirstMatchIn(html) match {
        case None => null
        case Some(m) =>
          innerText(m.group(1))
            .replace(" (UTC)", "")
            .replace("This page was last edited on ", "")
            .split(",", -1)(0)
      }
    }
  }

  /** Plain text per converter.py:35-44: remove script/style/meta/head/
    * title/noscript subtrees, then all text nodes stripped and joined
    * with single spaces.
    */
  val extractText: String => String = { html =>
    if (html == null) ""
    else {
      val noComments = CommentRe.matcher(html).replaceAll("")
      val noSubtrees = RemovalsRe.matcher(noComments).replaceAll(" ")
      WsRe.split(decodeEntities(TagRe.matcher(noSubtrees).replaceAll(" ")))
        .filter(_.nonEmpty).mkString(" ")
    }
  }

  /** All href targets of <a> tags, deduplicated (fetcher main.py:122
    * builds a SET comprehension, so duplicate hrefs collapse; we keep
    * first-occurrence document order for determinism where Python's set
    * order is arbitrary). Absolutization uses java.net.URI.resolve, which
    * agrees with urljoin on the well-formed fixture links.
    */
  val extractLinks: (String, String) => Seq[String] = { (html, baseUrl) =>
    if (html == null) Seq.empty
    else {
      val base = try new java.net.URI(baseUrl) catch { case _: Exception => null }
      HrefRe.findAllMatchIn(html).map(_.group(1)).flatMap { href =>
        if (base == null) Some(href)
        else try Some(base.resolve(href).toString) catch { case _: Exception => None }
      }.toSeq.distinct
    }
  }

  /** One-pass page parse (SURVEY.md §4 "parse once into a struct
    * column"): the reference re-parses the HTML into a fresh
    * BeautifulSoup tree inside EVERY UDF (categorizer.py:92,106;
    * converter.py:38) — 3× the work and 3× the executor↔UDF string
    * traffic. Returning all extractions as one struct makes the parse a
    * single common subexpression at plan-authoring time; consumers
    * project the fields they need.
    */
  final case class PageParse(categories: Seq[String], lastmodText: String, text: String)

  val parsePage: String => PageParse = { html =>
    PageParse(extractCategories(html), extractLastmodText(html), extractText(html))
  }

  // Registered UDF columns (executor-JVM evaluation, ArrayType/StringType
  // schemas declared at registration like categorizer.py:126-128).
  import org.apache.spark.sql.functions.udf
  val extractCategoriesUdf = udf(extractCategories)
  val extractLastmodTextUdf = udf(extractLastmodText)
  val extractTextUdf = udf(extractText)
  val extractLinksUdf = udf(extractLinks)
  // (the struct-returning page parse is not a ScalaUDF: the
  // parsePageRow kernel below serves it; the three per-field UDFs above
  // remain as the parity reference FunctionPropertySpec checks it against)

  /** [[parsePage]] as a Catalyst-internal row — the kernel behind
    * [[graft.functions.GraftFunctions.parsePage]], the `parse_page`
    * struct (categories, lastmodText, text, word_count). Semantics are
    * IDENTICAL to projecting the four ops separately: categories =
    * extractCategories, lastmodText = extractLastmodText (null when
    * absent), text = extractText, word_count = size(split(html, ' ')).
    * A null html gives a null struct.
    *
    * Why native: a ScalaUDF pays CatalystTypeConverters both ways on
    * every call, and the RESULT's Seq[String]/case-class → Row →
    * InternalRow round-trip profiled at ~4× the parse cost itself at
    * sf0.1. Top-level-object method ⇒ Scala emits a static forwarder,
    * so the handle's `StaticInvoke` generates a direct
    * `graft.wiki.Html.parsePageRow(s)` call: no converter layer, and the
    * html string is scanned once for the word count instead of a
    * separate `split(html, ' ')` array materialization.
    *
    * word_count parity: `size(split(value, ' '))` with Spark's default
    * limit -1 keeps every empty segment, so the count is exactly
    * (#spaces + 1) — replicated as a counting scan.
    */
  def parsePageRow(html: org.apache.spark.unsafe.types.UTF8String)
      : org.apache.spark.sql.catalyst.InternalRow = {
    import org.apache.spark.unsafe.types.UTF8String
    val s = html.toString
    val p = parsePage(s)
    var spaces = 0
    var i = 0
    while (i < s.length) {
      if (s.charAt(i) == ' ') spaces += 1
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(Array[Any](
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        p.categories.map(c => UTF8String.fromString(c): Any).toArray),
      if (p.lastmodText == null) null else UTF8String.fromString(p.lastmodText),
      UTF8String.fromString(p.text),
      spaces + 1))
  }

  /** Lastmod-text → DATE: English-month parse ('d MMMM yyyy', fixed
    * pattern locale), null on parse failure (categorizer.py:118-121's
    * except path).
    */
  def lastmodToDate(lastmodText: Column): Column =
    try_to_timestamp(lastmodText, lit("d MMMM yyyy")).cast("date")

  /** Full last-edited-date op (categorizer.py:103-122): tree probe (UDF)
    * + date parse, null on absence or parse failure.
    */
  def lastEditedDate(value: Column): Column =
    lastmodToDate(extractLastmodTextUdf(value))

  /** Word count per categorizer.py:137: size(split(value, ' ')) over the
    * RAW page source — whitespace-naive by design, replicated exactly.
    */
  def wordCount(value: Column): Column = size(split(value, " "))
}
