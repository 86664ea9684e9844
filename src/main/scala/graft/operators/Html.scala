package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** HTML main-content extraction — the web-corpus face of the extractor
  * family (S4/S8/S9 parse office formats; a 100 TB training pipeline's
  * dominant raw format is crawled HTML). JDK-only, like the others: a
  * small tag tokenizer feeds a block segmenter, and a deterministic
  * boilerplate filter (the jusText/Boilerpipe heuristic family: link
  * density + block length + structural context) keeps the article and
  * drops chrome. No DOM library, no network.
  *
  * The heuristics are FIXED and documented so the DuckDB oracle can
  * state expected blocks as literal VALUES:
  *  - `<script>`/`<style>`/`<template>`/`<noscript>` bodies are dropped
  *    (raw-text scan to the matching close tag, case-insensitive);
  *    comments and CDATA are dropped.
  *  - Block boundaries: p, div, h1..h6, li, td, th, tr, table, ul, ol,
  *    blockquote, pre, br, hr, section, article, main, header, footer,
  *    nav, aside, title, plus document start/end. Inline tags (a, b,
  *    i, em, strong, span, code, u, small, sup, sub) do not break
  *    blocks.
  *  - A block is BOILERPLATE when any of: it sits inside nav / footer
  *    / aside / form (structural chrome); its link density — anchor
  *    text chars / total chars — is ≥ 1/3; or it is shorter than 25
  *    characters and is not a heading (h1..h6 keep short text:
  *    headings are short by nature and anchor the article).
  *  - Entities: the named five (amp lt gt quot apos) + nbsp and
  *    numeric `&#NN;`/`&#xHH;` decode; unknown entities pass through
  *    literally (less cleaning, never lost text).
  *  - Whitespace inside a block collapses to single spaces, trimmed.
  *
  * Scale shape: one scalar UDF over a BINARY/STRING column — per-row,
  * zero-shuffle, parse failures yield None (the validator contract),
  * so one bad crawl record cannot kill a job. Parsing is a single
  * forward scan, O(bytes), no backtracking — hostile input degrades to
  * less text, never to quadratic time.
  */
object Html {

  /** One kept content block, in document order. */
  case class HtmlBlock(block_idx: Int, heading: Boolean, content: String)
  /** One `<a href>` in document order: the (entity-decoded, trimmed)
    * href, the anchor TEXT (whitespace-collapsed — the label humans
    * clicked, a classic relevance/quality signal for the TARGET page),
    * and the `rel=nofollow` bit a polite crawler honors at discovery. */
  case class HtmlLink(href: String, text: String, nofollow: Boolean)
  /** `links` = every `<a href>` in document order (empty hrefs dropped,
    * duplicates kept — the crawl-discovery stage dedups AFTER
    * resolution/canonicalization, where two spellings of one URL
    * actually collapse). `canonical` = the first
    * `<link rel="canonical" href>` (the page's self-declared identity,
    * a dedup key production crawlers prefer over the fetch URL);
    * `metaRobots` = the first `<meta name="robots">` content tokens
    * (lowercased — `noindex`/`nofollow`/`none` are the page-level
    * directives, honored downstream by [[htmlDirectives]]). */
  case class HtmlParsed(title: Option[String], blocks: Seq[HtmlBlock],
                        links: Seq[HtmlLink], canonical: Option[String],
                        metaRobots: Seq[String])

  private val rawTextTags = Set("script", "style", "template", "noscript")
  private val blockTags = Set(
    "p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "td", "th",
    "tr", "table", "ul", "ol", "blockquote", "pre", "br", "hr",
    "section", "article", "main", "header", "footer", "nav", "aside",
    "title", "body", "html", "head")
  private val chromeTags = Set("nav", "footer", "aside", "form")
  // hoisted: String.replaceAll would recompile this per BLOCK on the
  // 100 TB-hot per-row path (CrawlDrill measures this kernel)
  private val wsRun = java.util.regex.Pattern.compile("\\s+")
  private val headingTags = Set("h1", "h2", "h3", "h4", "h5", "h6")
  // href value in an <a> tag's attribute string: double-quoted,
  // single-quoted, or bare (HTML5 unquoted attribute value). The
  // attribute NAME is anchored with a lookbehind — \b alone matches
  // between '-' and 'h', so data-href=/ng-href= would shadow the real
  // href and feed tracking URLs into crawl discovery
  private val hrefRe = java.util.regex.Pattern.compile(
    "(?i)(?<![\\w-])href\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")
  // same anchoring discipline for the directive attributes
  private val relRe = java.util.regex.Pattern.compile(
    "(?i)(?<![\\w-])rel\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")
  private val nameAttrRe = java.util.regex.Pattern.compile(
    "(?i)(?<![\\w-])name\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")
  private val contentAttrRe = java.util.regex.Pattern.compile(
    "(?i)(?<![\\w-])content\\s*=\\s*(?:\"([^\"]*)\"|'([^']*)'|([^\\s\"'>]+))")

  /** First non-null capture group of `re` in the tag's attribute
    * string (the three groups are the quoted/quoted'/bare forms). */
  private def attrVal(re: java.util.regex.Pattern, inner: String): Option[String] = {
    val m = re.matcher(inner)
    if (m.find()) Seq(m.group(1), m.group(2), m.group(3)).find(_ != null) else None
  }

  /** Decode the documented entity set; unknown entities stay literal. */
  private[graft] def decodeEntities(s: String): String = {
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        // entity names are short; a far-away ';' means a bare '&'
        if (semi > i && semi - i <= 10) {
          val body = s.substring(i + 1, semi)
          val decoded: Option[String] = body match {
            case "amp" => Some("&")
            case "lt" => Some("<")
            case "gt" => Some(">")
            case "quot" => Some("\"")
            case "apos" => Some("'")
            case "nbsp" => Some(" ")
            // isValidCodePoint accepts surrogate code points U+D800-DFFF;
            // an unpaired surrogate corrupts to U+FFFD on any UTF-8 /
            // parquet round-trip, so reject those too
            case b if b.startsWith("#x") || b.startsWith("#X") =>
              scala.util.Try(Integer.parseInt(b.drop(2), 16))
                .filter(cp => cp > 0 && Character.isValidCodePoint(cp) &&
                  !(cp >= 0xD800 && cp <= 0xDFFF))
                .map(cp => new String(Character.toChars(cp))).toOption
            case b if b.startsWith("#") =>
              scala.util.Try(Integer.parseInt(b.drop(1)))
                .filter(cp => cp > 0 && Character.isValidCodePoint(cp) &&
                  !(cp >= 0xD800 && cp <= 0xDFFF))
                .map(cp => new String(Character.toChars(cp))).toOption
            case _ => None
          }
          decoded match {
            case Some(d) => sb.append(d); i = semi + 1
            case None => sb.append(c); i += 1
          }
        } else { sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }

  /** Decode page bytes to chars: BOM first (UTF-8/16 — a UTF-16 page
    * legitimately carries NUL bytes, so the BOM check must precede the
    * binary-garbage check), then a `<meta charset=...>` declaration in
    * the first 1 KiB (scanned byte-transparently via Latin-1 — the
    * declaration itself is always ASCII), else UTF-8. An unknown or
    * unsupported charset name falls back to UTF-8 rather than failing
    * the page. Returns None for BOM-less input with a NUL in the first
    * 1 KiB (binary garbage, the validator surface). */
  private[graft] def decodePage(bytes: Array[Byte]): Option[String] = {
    def str(off: Int, cs: java.nio.charset.Charset) =
      Some(new String(bytes, off, bytes.length - off, cs))
    if (bytes.length >= 3 && (bytes(0) & 0xff) == 0xEF &&
        (bytes(1) & 0xff) == 0xBB && (bytes(2) & 0xff) == 0xBF)
      str(3, UTF_8)
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xFF && (bytes(1) & 0xff) == 0xFE)
      str(2, java.nio.charset.StandardCharsets.UTF_16LE)
    else if (bytes.length >= 2 && (bytes(0) & 0xff) == 0xFE && (bytes(1) & 0xff) == 0xFF)
      str(2, java.nio.charset.StandardCharsets.UTF_16BE)
    else if (bytes.take(1024).contains(0.toByte)) None
    else {
      val head = new String(bytes.take(1024),
        java.nio.charset.StandardCharsets.ISO_8859_1)
      val cs = "(?i)<meta[^>]*charset\\s*=\\s*[\"']?([A-Za-z0-9_:.+-]+)".r
        .findFirstMatchIn(head).map(_.group(1))
        .flatMap(c => scala.util.Try(java.nio.charset.Charset.forName(c)).toOption)
        .getOrElse(UTF_8)
      str(0, cs)
    }
  }

  /** Parse HTML bytes to (title, boilerplate-filtered blocks). Total:
    * any input yields Some (possibly empty-blocked) unless it is not
    * text at all — BOM-less bytes with a NUL in the first 1 KiB mark
    * binary garbage and yield None (the validator surface). Charset
    * comes from [[decodePage]]: BOM > meta charset > UTF-8. */
  /** ASCII substring scan ignoring case — the cheap guard that keeps
    * the directive regexes off tags that cannot match (most <a> carry
    * no rel=, most <link>/<meta> are not canonical/robots; a Matcher
    * allocation per tag measurably taxes the 100 TB-hot parse). */
  private def hasIgnoreCase(s: String, sub: String): Boolean = {
    val n = s.length - sub.length
    var i = 0
    while (i <= n) {
      var k = 0
      while (k < sub.length && {
        val c = s.charAt(i + k); val d = sub.charAt(k)
        c == d || (c >= 'A' && c <= 'Z' && (c + 32) == d)
      }) k += 1
      if (k == sub.length) return true
      i += 1
    }
    false
  }

  def parseHtml(bytes: Array[Byte]): Option[HtmlParsed] =
    parseHtml(bytes, wantLinks = true)

  /** `wantLinks = false` is the EXTRACTION-ONLY mode ([[htmlBlocks]] /
    * [[graft.operators.Warc.warcHtmlBlocks]]): link capture, anchor
    * text, and directive parsing are skipped entirely — the blocks
    * surface never reads them, and serializing an array of link
    * structs per page through the UDF encoder measurably taxed the
    * extraction kernel (CrawlDrill). Discovery surfaces keep the full
    * parse. */
  def parseHtml(bytes: Array[Byte], wantLinks: Boolean): Option[HtmlParsed] =
    try {
      val s = decodePage(bytes) match {
        case Some(t) => t
        case None => return None
      }
      val n = s.length
      var i = 0
      var title: Option[String] = None
      var inTitle = false
      var chromeDepth = 0 // nested nav/footer/aside/form
      var anchorDepth = 0
      var headingDepth = 0
      // (heading, text, linkChars, totalChars, chrome)
      val blocks = scala.collection.mutable.ArrayBuffer[(Boolean, String, Long, Long, Boolean)]()
      val links = scala.collection.mutable.ArrayBuffer[HtmlLink]()
      var canonical: Option[String] = None
      var metaRobots: Seq[String] = Nil
      // anchor-text capture: text accrues to the MOST RECENT href-bearing
      // <a> until its close (or the next <a> — nesting is invalid HTML,
      // latest-wins is the browsers' recovery)
      val linkText = new StringBuilder
      var openLink = -1
      def finishLink(): Unit = {
        if (openLink >= 0)
          links(openLink) = links(openLink).copy(text =
            wsRun.matcher(decodeEntities(linkText.toString)).replaceAll(" ").trim)
        linkText.setLength(0); openLink = -1
      }
      val cur = new StringBuilder
      var curLink = 0L
      var curTotal = 0L
      var curHeading = false
      var curChrome = false
      def flush(): Unit = {
        // decode FIRST, collapse second: numeric whitespace entities
        // (&#10; &#9;) and &nbsp; must collapse like literal whitespace,
        // or decoded newlines/doubles re-enter "collapsed" block text
        val text = wsRun.matcher(decodeEntities(cur.toString))
          .replaceAll(" ").trim
        if (text.nonEmpty)
          blocks += ((curHeading && !curChrome, text, curLink,
            math.max(1L, curTotal), curChrome))
        cur.clear(); curLink = 0L; curTotal = 0L
        curHeading = headingDepth > 0
        curChrome = chromeDepth > 0
      }
      def lower(t: String) = t.toLowerCase(java.util.Locale.ROOT)
      // ASCII-only lowering, NOT String.toLowerCase: Unicode lowercasing
      // can change string LENGTH (U+0130 'İ' → "i̇", 2 chars — routine on
      // Turkish pages), and indices found in the lowered copy are used
      // against `s` for the raw-text close-tag scan. Tag names are ASCII,
      // so ASCII-only lowering finds them while guaranteeing ls.length
      // == s.length (index-compatible by construction).
      lazy val ls = { // once — per-tag lowering would be O(n²)
        val a = s.toCharArray
        var k = 0
        while (k < a.length) {
          val ch = a(k)
          if (ch >= 'A' && ch <= 'Z') a(k) = (ch + 32).toChar
          k += 1
        }
        new String(a)
      }
      while (i < n) {
        val c = s.charAt(i)
        if (c == '<') {
          if (s.startsWith("<!--", i)) {
            val e = s.indexOf("-->", i + 4)
            i = if (e < 0) n else e + 3
          } else if (s.startsWith("<![CDATA[", i)) {
            val e = s.indexOf("]]>", i + 9)
            i = if (e < 0) n else e + 3
          } else if (i + 1 < n && (s.charAt(i + 1) == '!' || s.charAt(i + 1) == '?')) {
            val e = s.indexOf('>', i + 1) // doctype / processing instr
            i = if (e < 0) n else e + 1
          } else {
            // a real tag: find its end, honoring quoted attribute values
            var j = i + 1
            var quote: Char = 0
            while (j < n && (quote != 0 || s.charAt(j) != '>')) {
              val cj = s.charAt(j)
              if (quote == 0 && (cj == '"' || cj == '\'')) quote = cj
              else if (quote != 0 && cj == quote) quote = 0
              j += 1
            }
            if (j >= n) { i = n } // unterminated tag: drop the tail
            else {
              val inner = s.substring(i + 1, j)
              val closing = inner.startsWith("/")
              val name = lower(inner.stripPrefix("/")
                .takeWhile(ch => ch.isLetterOrDigit))
              if (!closing && rawTextTags(name) && !inner.endsWith("/")) {
                // raw-text element: skip to its matching close tag
                val e = ls.indexOf(s"</$name", j + 1)
                if (e < 0) i = n
                else {
                  val gt = s.indexOf('>', e + 1)
                  i = if (gt < 0) n else gt + 1
                }
              } else {
                if (blockTags(name)) flush()
                // a block tag other than title FORCES the title closed:
                // <title> cannot contain block content, so a page whose
                // </title> is missing (truncated crawl payload) must not
                // swallow its whole body into the title sink
                if (blockTags(name) && name != "title") inTitle = false
                name match {
                  case "title" => inTitle = !closing
                  case "a" =>
                    if (closing) {
                      anchorDepth = math.max(0, anchorDepth - 1)
                      if (anchorDepth == 0) finishLink()
                    } else {
                      finishLink() // latest-wins on invalid nesting
                      val selfClosed = inner.endsWith("/")
                      if (!selfClosed) anchorDepth += 1
                      if (wantLinks) {
                        val href = attrVal(hrefRe, inner)
                          .map(v => decodeEntities(v.trim)).getOrElse("")
                        if (href.nonEmpty) {
                          val nofollow = hasIgnoreCase(inner, "rel") &&
                            attrVal(relRe, inner).map(lower)
                              .exists(_.split("[\\s,]+")
                                .exists(t => t == "nofollow" || t == "none"))
                          links += HtmlLink(href, "", nofollow)
                          if (!selfClosed) openLink = links.length - 1
                        }
                      }
                    }
                  case "link" if !closing && wantLinks =>
                    // first rel=canonical wins (browsers ignore later ones)
                    if (canonical.isEmpty && hasIgnoreCase(inner, "canonical") &&
                        attrVal(relRe, inner).map(lower)
                          .exists(_.split("\\s+").contains("canonical")))
                      canonical = attrVal(hrefRe, inner)
                        .map(v => decodeEntities(v.trim)).filter(_.nonEmpty)
                  case "meta" if !closing && wantLinks =>
                    if (metaRobots.isEmpty && hasIgnoreCase(inner, "robots") &&
                        attrVal(nameAttrRe, inner)
                          .exists(v => lower(v.trim) == "robots"))
                      // same tokenizer discipline as rel=: the malformed
                      // space-separated form content="noindex nofollow"
                      // is common in the wild and must still split
                      metaRobots = attrVal(contentAttrRe, inner).toSeq
                        .flatMap(_.split("[\\s,]+"))
                        .map(t => lower(decodeEntities(t).trim))
                        .filter(_.nonEmpty)
                  case t if chromeTags(t) =>
                    chromeDepth = math.max(0, chromeDepth + (if (closing) -1 else 1))
                  case t if headingTags(t) =>
                    headingDepth = math.max(0, headingDepth + (if (closing) -1 else 1))
                  case _ => ()
                }
                if (blockTags(name)) { // re-derive context AFTER the tag
                  curHeading = headingDepth > 0
                  curChrome = chromeDepth > 0
                }
                i = j + 1
              }
            }
          }
        } else {
          // text node: consume the whole run to the next tag at once
          val e = s.indexOf('<', i)
          val end = if (e < 0) n else e
          val text = s.substring(i, end)
          if (inTitle) {
            if (title.isEmpty) {
              val t = wsRun.matcher(decodeEntities(text)).replaceAll(" ").trim
              if (t.nonEmpty) title = Some(t)
            }
          } else {
            cur.append(text)
            // density over NON-whitespace chars — stable under
            // formatting differences
            val solid = text.count(!_.isWhitespace).toLong
            curTotal += solid
            if (anchorDepth > 0) {
              curLink += solid
              if (openLink >= 0) linkText.append(text)
            }
          }
          i = end
        }
      }
      finishLink() // an unclosed trailing <a> keeps its text
      flush()
      val kept = blocks.collect {
        case (heading, text, link, total, chrome)
          if !chrome && link * 3 < total &&
             (heading || text.length >= 25) => (heading, text)
      }
      Some(HtmlParsed(title,
        kept.zipWithIndex.map { case ((h, t), k) => HtmlBlock(k, h, t) }.toSeq,
        links.toSeq, canonical, metaRobots))
    } catch { case scala.util.control.NonFatal(_) => None }

  // ---- Spark surface ----------------------------------------------------

  val parseHtmlUdf = udf((bytes: Array[Byte]) => parseHtml(bytes))
  /** Extraction-only parse: blocks + title, no link/directive capture
    * (and no per-page link-struct serialization) — the [[htmlBlocks]]
    * kernel. */
  val parseBlocksUdf = udf((bytes: Array[Byte]) => parseHtml(bytes, wantLinks = false))

  /** The HTML fixture corpus as a (doc, fmt, content BINARY) frame. */
  def fixturesDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    DocFixtures.htmlAll.toDF("doc", "fmt", "content")
  }

  /** The legacy-encoding fixture corpus (meta charset + BOM pages). */
  def charsetFixturesDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    DocFixtures.charsetHtmlAll.toDF("doc", "fmt", "content")
  }

  /** One row per extracted `<a href>`: (doc, link_idx, href,
    * anchor_text, nofollow) in document order — the raw material of
    * crawl discovery; resolution against the page URL and
    * canonicalization happen downstream ([[UrlOps.resolveUrl]] →
    * [[UrlOps.canonicalizeUrl]]), and a polite discovery stage filters
    * `nofollow` before the frontier. */
  def htmlLinks(docs: DataFrame, docCol: String = "doc",
                binCol: String = "content"): DataFrame =
    docs.select(col(docCol).as("doc"), parseHtmlUdf(col(binCol)).as("p"))
      .select(col("doc"), posexplode(col("p.links")))
      .select(col("doc"), col("pos").as("link_idx"), col("col.href").as("href"),
        col("col.text").as("anchor_text"), col("col.nofollow").as("nofollow"))

  /** Page-level crawl directives: the self-declared `canonical` URL
    * (the dedup identity production crawlers prefer over the fetch
    * URL) and the `<meta name="robots">` verdicts — `noindex` (page
    * must not enter the corpus/index) and `nofollow` (its links must
    * not feed discovery); the `none` token implies both (the
    * robots-meta spec). Per-row projection, zero shuffle. */
  def htmlDirectives(docs: DataFrame, docCol: String = "doc",
                     binCol: String = "content"): DataFrame = {
    val p = parseHtmlUdf(col(binCol))
    docs.select(col(docCol).as("doc"), p.as("p"))
      .select(col("doc"), col("p.canonical").as("canonical"),
        coalesce(array_contains(col("p.metaRobots"), "noindex") ||
          array_contains(col("p.metaRobots"), "none"), lit(false)).as("noindex"),
        coalesce(array_contains(col("p.metaRobots"), "nofollow") ||
          array_contains(col("p.metaRobots"), "none"), lit(false)).as("nofollow"))
  }

  /** One row per kept content block: (doc, title, block_idx, heading,
    * content, n_chars) — the extraction surface a web-corpus curation
    * chain feeds into chunking/dedup/quality. */
  def htmlBlocks(docs: DataFrame, docCol: String = "doc",
                 binCol: String = "content"): DataFrame =
    docs.select(col(docCol).as("doc"), parseBlocksUdf(col(binCol)).as("p"))
      .select(col("doc"), col("p.title").as("title"),
        explode(col("p.blocks")).as("b"))
      .select(col("doc"), col("title"),
        col("b.block_idx").as("block_idx"),
        col("b.heading").as("heading"),
        col("b.content").as("content"),
        length(col("b.content")).as("n_chars"))
}
