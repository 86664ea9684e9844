package graft.operators

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** S1 — the URL-ingestion surface (reference
  * `ingestion_service.py:92-106,220-269`): download with retry +
  * exponential backoff, a 50 MB size cap, SHA-256 content hashing, the
  * `{md5(url)[:8]}_{sha256[:12]}{ext}` cache-file naming scheme, layered
  * MIME detection (content magic, then extension), and the
  * supported-type/size validation that gates a document into the
  * pipeline.
  *
  * The fetch kernel speaks `http://` (real `HttpURLConnection` GET with
  * status/size handling and the reference's retry-any-non-200 contract)
  * and `file://` (the zero-server path). The sandbox has no egress, so
  * HTTP coverage runs against [[fixtureServerPort]] — a loopback
  * `com.sun.net.httpserver` instance serving the same staged fixtures,
  * including a deterministic 503-then-200 flaky route that exercises the
  * real backoff/retry path. Spark-first shape: the URL list is a
  * DataFrame, the fetch
  * is a per-row executor-side kernel (parallelism = partitions of the
  * url list — a 1000-executor cluster fans the download out for free),
  * and everything downstream of the fetch is plain codegen'd column
  * arithmetic. The content column is only as durable as one stage: at
  * scale you write (url, content) straight to a staging table
  * ([[graft.io.Tables]]) and run extraction from there, which is
  * exactly the S2/S3 half this feeds.
  */
object UrlIngest {

  /** Reference cap (`ingestion_service.py:56`). */
  val MaxFileSize: Long = 50L * 1024 * 1024

  val DocxMime = "application/vnd.openxmlformats-officedocument.wordprocessingml.document"

  /** Fetch result; `error` is a stable machine string (the driver's
    * hash compare needs byte-identical output across runs). */
  case class Fetched(content: Array[Byte], attempts: Int, error: String,
                     final_url: String, redirects: Int, content_type: String,
                     etag: String, not_modified: Boolean, x_robots: String,
                     last_modified: String)

  /** Outcome of ONE HTTP exchange (one hop of one attempt). */
  private sealed trait HttpHop
  private final case class HopBody(body: Array[Byte], contentType: String,
                                   etag: String, xRobots: String,
                                   lastModified: String) extends HttpHop
  private final case class HopRedirect(location: String) extends HttpHop
  private case object HopNotModified extends HttpHop

  /** Non-2xx terminal status for one exchange; carries the server's
    * `Retry-After` (RFC 9110 §10.2.3, delay-seconds form) so the retry
    * loop can honor an explicit throttle instead of blind backoff. */
  private final class HttpStatusException(val code: Int,
                                          val retryAfterSec: Option[Long])
    extends java.io.IOException(s"http_$code")

  /** Redirect hop cap per attempt (Location chains longer than this —
    * or any cycle — fail FAST with `too_many_redirects`; browsers and
    * production fetchers cap at 5-20, curl's default is 50). */
  val MaxRedirects = 5

  /** One `http://` GET, the transport half of [[fetchUdf]]. Mirrors the
    * reference's per-attempt contract (`ingestion_service.py:229-246`):
    * non-200 status raises (and is RETRIED — the reference funnels HTTP
    * status errors through the same retry loop as network errors), the
    * Content-Length header is checked against the cap before the body is
    * read, and the read body is size-checked again (a lying or absent
    * header must not smuggle an oversized payload). The attempt number
    * rides on an `X-Graft-Attempt` header — retry telemetry, and what
    * lets the loopback fixture server fail first attempts
    * deterministically. */
  private def httpGet(uri: java.net.URI, maxBytes: Long, attempt: Int,
                      etag: String, lastModified: String): HttpHop = {
    val conn = uri.toURL.openConnection().asInstanceOf[java.net.HttpURLConnection]
    conn.setConnectTimeout(5000)
    conn.setReadTimeout(15000)
    // redirects are handled EXPLICITLY (hop cap, cycle guard, final-url
    // accounting) — the JDK's silent same-protocol following would lose
    // the chain and ignore our per-hop size/status contract
    conn.setInstanceFollowRedirects(false)
    conn.setRequestProperty("X-Graft-Attempt", attempt.toString)
    // crawl-scale bandwidth: HTML compresses 5-10x, so advertise gzip
    // and inflate ourselves (HttpURLConnection never auto-decompresses);
    // the size cap applies to the INFLATED bytes — a decompression bomb
    // must fail the row exactly like an oversized plain body
    conn.setRequestProperty("Accept-Encoding", "gzip")
    // ETag is the stronger validator and takes precedence; the
    // Last-Modified date is replayed VERBATIM as If-Modified-Since
    // (RFC 9110 §13.1.3 — a cache echoes the server's own date, never
    // reformats it), covering the many servers that send no ETag
    if (etag != null) conn.setRequestProperty("If-None-Match", etag)
    else if (lastModified != null)
      conn.setRequestProperty("If-Modified-Since", lastModified)
    try {
      val code = conn.getResponseCode
      def drainError(): Unit =
        Option(conn.getErrorStream).foreach { es => es.readAllBytes(); es.close() }
      code match {
        case 200 =>
          val declared = conn.getContentLengthLong
          if (declared > maxBytes)
            throw new IllegalArgumentException("file_too_large")
          val gz = Option(conn.getHeaderField("Content-Encoding"))
            .exists(_.toLowerCase.contains("gzip"))
          val in0 = conn.getInputStream
          val in = if (gz) new java.util.zip.GZIPInputStream(in0) else in0
          try {
            // readNBytes(cap+1): one byte past the cap proves the
            // violation without materializing an unbounded body — for
            // gzip this bounds the INFLATED size (the sitemap-side
            // guard, applied at the transport)
            val body = in.readNBytes(maxBytes.min(Int.MaxValue - 8L).toInt + 1)
            if (body.length > maxBytes)
              throw new IllegalArgumentException("file_too_large")
            HopBody(body, conn.getContentType, conn.getHeaderField("ETag"),
              // the HTTP-layer twin of <meta name=robots> — a crawler
              // honors noindex/nofollow from EITHER channel
              conn.getHeaderField("X-Robots-Tag"),
              conn.getHeaderField("Last-Modified"))
          } finally in.close()
        case 301 | 302 | 303 | 307 | 308 =>
          // drain any redirect body so the connection is reusable; the
          // getInputStream call ITSELF can throw (server closes after
          // headers) and must not demote an already-received Location
          // into a retryable fetch_error — the whole drain is best-effort
          try {
            Option(conn.getInputStream).foreach { is =>
              is.readAllBytes(); is.close()
            }
          } catch { case scala.util.control.NonFatal(_) => () }
          Option(conn.getHeaderField("Location")) match {
            case Some(loc) => HopRedirect(loc)
            case None => throw new HttpStatusException(code, None) // malformed: no target
          }
        case 304 =>
          drainError()
          HopNotModified
        case _ =>
          drainError()
          // delay-seconds form only (the HTTP-date form needs a clock
          // comparison — a crawler treats an unparseable value as absent)
          val retryAfter = Option(conn.getHeaderField("Retry-After"))
            .filter(_.matches("\\d{1,8}")).map(_.toLong)
          throw new HttpStatusException(code, retryAfter)
      }
    } finally conn.disconnect()
  }

  /** The `_download_with_retry` analogue (`ingestion_service.py:220-269`):
    * up to `maxRetries` attempts with exponential backoff
    * (`backoffMs * 2^attempt`; the reference sleeps 2^attempt seconds —
    * parameterized here so tests don't sleep), failing a single row —
    * never the job — with `download_failed_after_N_attempts:<kind>`.
    * Transport errors AND non-200 HTTP statuses take the backoff path
    * (kind `fetch_error` / `http_<code>` — the reference retries status
    * errors through the same loop). Permanently-failing conditions —
    * unsupported scheme, size cap — fail FAST (attempt 1, no backoff):
    * no retry can change them, and the reference likewise validates
    * scheme/size outside its transport retry loop. */
  private val FatalKinds =
    Set("file_too_large", "unsupported_scheme", "too_many_redirects")

  /** The full per-URL fetch kernel: retry loop (exponential backoff OR
    * the server's explicit `Retry-After`, whichever is larger, capped
    * at `maxRetryAfterMs` — a hostile header must not park an executor
    * core for an hour) around a redirect-hop loop (`Location` resolved
    * RFC 3986 §5 via `URI.resolve`, `maxHops` cap doubles as the cycle
    * guard, fail-fast — no retry changes a loop). `etag` non-null sends
    * `If-None-Match` on the FIRST hop (revalidating the cached entry;
    * a redirect target is fetched unconditionally): 304 returns
    * `not_modified=true`, no body, the caller's etag kept — the
    * incremental-recrawl contract. */
  private[graft] def fetchOne(url: String, maxBytes: Long, maxRetries: Int,
                              backoffMs: Long, maxHops: Int,
                              maxRetryAfterMs: Long, etag: String,
                              lastModified: String = null): Fetched = {
    var attempt = 0
    var kind: String = null
    var fatal = false
    var done: Fetched = null
    while (done == null && !fatal && attempt < maxRetries) {
      attempt += 1
      var retryAfterMs = 0L
      try {
        var current = url
        var hops = 0
        while (done == null) {
          val uri = new java.net.URI(current)
          uri.getScheme match {
            case "file" =>
              val p = java.nio.file.Paths.get(uri)
              if (java.nio.file.Files.size(p) > maxBytes)
                throw new IllegalArgumentException("file_too_large")
              done = Fetched(java.nio.file.Files.readAllBytes(p), attempt, null,
                current, hops, null, null, not_modified = false, x_robots = null,
                last_modified = null)
            case "http" =>
              httpGet(uri, maxBytes, attempt,
                  if (hops == 0) etag else null,
                  if (hops == 0) lastModified else null) match {
                case HopBody(b, ct, et, xr, lm) =>
                  done = Fetched(b, attempt, null, current, hops, ct, et,
                    not_modified = false, x_robots = xr, last_modified = lm)
                case HopNotModified =>
                  done = Fetched(null, attempt, null, current, hops, null, etag,
                    not_modified = true, x_robots = null,
                    last_modified = lastModified)
                case HopRedirect(loc) =>
                  hops += 1
                  if (hops > maxHops)
                    throw new IllegalArgumentException("too_many_redirects")
                  current = uri.resolve(loc).toString
              }
            case _ =>
              throw new IllegalArgumentException("unsupported_scheme")
          }
        }
      } catch {
        case e: IllegalArgumentException if FatalKinds(e.getMessage) =>
          kind = e.getMessage
          fatal = true
        case e: HttpStatusException =>
          kind = e.getMessage
          retryAfterMs = e.retryAfterSec
            .map(s => (s * 1000L).min(maxRetryAfterMs)).getOrElse(0L)
        case e: java.io.IOException if e.getMessage != null &&
            e.getMessage.startsWith("http_") =>
          kind = e.getMessage
        case scala.util.control.NonFatal(_) =>
          kind = "fetch_error"
      }
      if (done == null && !fatal && attempt < maxRetries) {
        val sleepMs = math.max(
          if (backoffMs > 0) backoffMs << (attempt - 1) else 0L, retryAfterMs)
        if (sleepMs > 0) Thread.sleep(sleepMs)
      }
    }
    if (done != null) done
    else Fetched(null, attempt, s"download_failed_after_${attempt}_attempts:$kind",
      url, 0, null, null, not_modified = false, x_robots = null,
      last_modified = null)
  }

  def fetchUdf(maxBytes: Long, maxRetries: Int, backoffMs: Long,
               maxHops: Int = MaxRedirects, maxRetryAfterMs: Long = 30000L) =
    udf((url: String) =>
      fetchOne(url, maxBytes, maxRetries, backoffMs, maxHops, maxRetryAfterMs,
        etag = null))

  /** [[fetchUdf]] with a cached validator: (url, etag) → conditional
    * GET. A null etag degrades to the unconditional fetch. */
  def fetchCondUdf(maxBytes: Long, maxRetries: Int, backoffMs: Long,
                   maxHops: Int = MaxRedirects, maxRetryAfterMs: Long = 30000L) =
    udf((url: String, etag: String, lastModified: String) =>
      fetchOne(url, maxBytes, maxRetries, backoffMs, maxHops, maxRetryAfterMs,
        etag, lastModified))

  /** Ingest a URL-list DataFrame into the reference's `DocumentInfo`
    * surface: one row per URL with cache name, size, MIME, SHA-256 hash,
    * attempt count, validity and the accumulated validation errors.
    * MIME detection is layered like `_detect_mime_type`: content magic
    * ([[Validation.sniffMime]]) first, extension fallback second.
    * Type/extension pairs follow the reference's SUPPORTED_TYPES
    * (`ingestion_service.py:47-53`). */
  def ingest(urls: DataFrame, maxBytes: Long = MaxFileSize, maxRetries: Int = 3,
             backoffMs: Long = 0L, urlCol: String = "url"): DataFrame = {
    val ext = lower(regexp_extract(col(urlCol), "(\\.[A-Za-z0-9]+)$", 1))
    val c = col("_f.content")
    val sniffed = Validation.sniffMime(c.cast("string"))
    val mime = when(sniffed === "application/octet-stream" && ext === ".txt", "text/plain")
      .otherwise(sniffed)
    val supported = mime.isin("application/pdf", DocxMime, "application/msword",
      "message/rfc822", "text/plain")
    val extOk =
      (mime === "application/pdf" && ext === ".pdf") ||
        (mime === DocxMime && ext === ".docx") ||
        (mime === "application/msword" && ext === ".doc") ||
        (mime === "message/rfc822" && ext === ".eml") ||
        (mime === "text/plain" && ext.isin(".txt", ".eml"))
    val valErrs = array_compact(array(
      when(!supported, "unsupported_type"),
      when(supported && !extOk, "extension_mismatch"),
      when(length(c) > maxBytes, "file_too_large")))
    urls
      .withColumn("_f", fetchUdf(maxBytes, maxRetries, backoffMs)(col(urlCol)))
      .select(
        col(urlCol).as("url"),
        when(c.isNotNull,
          concat(substring(md5(col(urlCol)), 1, 8), lit("_"),
            substring(sha2(c, 256), 1, 12), ext)).as("cache_name"),
        when(c.isNotNull, length(c).cast("long")).as("file_size"),
        when(c.isNotNull, mime).as("mime_type"),
        when(c.isNotNull, sha2(c, 256)).as("file_hash"),
        col("_f.attempts").as("attempts"),
        when(c.isNull, lit(false)).otherwise(size(valErrs) === 0).as("is_valid"),
        when(c.isNull, col("_f.error"))
          .otherwise(array_join(valErrs, ",")).as("errors"))
  }

  /** The transport half of [[ingest]] with the PAYLOAD kept: one row
    * per URL with the fetched bytes (NULL after exhausted retries),
    * attempt count and error kind — the crawl pipeline's fetch stage,
    * chaining frontier-scheduled URLs into the binary extractors
    * ([[Html.parseHtml]], [[DocExtract]]). Same retry/backoff/size-cap
    * semantics as [[ingest]]; same per-row zero-shuffle shape. */
  def fetchBytes(urls: DataFrame, maxBytes: Long = MaxFileSize, maxRetries: Int = 3,
                 backoffMs: Long = 0L, urlCol: String = "url",
                 maxRetryAfterMs: Long = 30000L): DataFrame =
    urls.withColumn("_f",
        fetchUdf(maxBytes, maxRetries, backoffMs,
          maxRetryAfterMs = maxRetryAfterMs)(col(urlCol)))
      .select(col(urlCol).as("url"), col("_f.content").as("content"),
        col("_f.attempts").as("attempts"), col("_f.error").as("error"),
        col("_f.final_url").as("final_url"), col("_f.redirects").as("redirects"),
        col("_f.content_type").as("content_type"), col("_f.etag").as("etag"),
        col("_f.x_robots").as("x_robots"),
        col("_f.last_modified").as("last_modified"))

  /** The incremental-recrawl fetch stage: each row carries the etag its
    * LAST crawl recorded ([[fetchBytes]]'s `etag` column — NULL for a
    * never-seen URL, degrading to the unconditional GET); the server
    * answers 304 for unchanged pages, which come back as
    * `not_modified=true` with no body — at recrawl scale the dominant
    * outcome, turning a re-extract pass into a header exchange. All
    * NON-etag input columns pass through (the caller's join keys);
    * the output `etag` is the CURRENT validator (the cached one for
    * 304, the fresh response's for 200 — always what the next crawl
    * should send). Same per-row zero-shuffle shape as [[fetchBytes]]. */
  def fetchBytesConditional(urls: DataFrame, maxBytes: Long = MaxFileSize,
                            maxRetries: Int = 3, backoffMs: Long = 0L,
                            urlCol: String = "url", etagCol: String = "etag",
                            maxRetryAfterMs: Long = 30000L,
                            lastModifiedCol: Option[String] = None): DataFrame = {
    // ETag precedence; a Last-Modified column (when the caller kept
    // one) covers the servers that never send ETags — the kernel sends
    // If-Modified-Since only when the etag is NULL
    val lm = lastModifiedCol.map(col).getOrElse(lit(null).cast("string"))
    val passThrough = urls.columns
      .filterNot(c => c == etagCol || lastModifiedCol.contains(c)).map(col).toSeq
    urls.withColumn("_f",
        fetchCondUdf(maxBytes, maxRetries, backoffMs,
          maxRetryAfterMs = maxRetryAfterMs)(col(urlCol), col(etagCol), lm))
      .select(passThrough ++ Seq(col("_f.content").as("content"),
        col("_f.attempts").as("attempts"), col("_f.error").as("error"),
        col("_f.final_url").as("final_url"), col("_f.redirects").as("redirects"),
        col("_f.content_type").as("content_type"), col("_f.etag").as("etag"),
        col("_f.not_modified").as("not_modified"),
        // column-compatible with fetchBytes: a 200 refetch that newly
        // added X-Robots-Tag: noindex must reach the recrawl pipeline's
        // robots surface, not vanish in the conditional path
        col("_f.x_robots").as("x_robots"),
        col("_f.last_modified").as("last_modified")): _*)
  }

  // ---- driver-query fixtures ------------------------------------------

  /** ASCII-only members so the DuckDB oracle's `read_blob` →
    * `decode()` hash replay is byte-faithful (decode rejects non-UTF8
    * bytes, so the binary formats go through the SPEC, which checks
    * against JVM-computed hashes instead). `report.pdf` is a
    * type-validation failure: `.pdf` extension, plain-text body. */
  val notesTxt: String =
    "Plain text release notes.\nNothing to extract here, but ingestion must accept txt.\n"
  val reportPdf: String = "This is not a PDF at all, just text wearing the extension.\n"

  /** Stage the S1 query fixtures to a fixed local dir (idempotent
    * overwrite) and return it — the offline stand-in for the url list's
    * remote side. The DuckDB oracle reads the same files back with
    * `read_blob`. */
  /** Per-JVM staged-fixture location. Unique per process (no cross-user
    * /tmp collision, no concurrent-Verify race on a shared path) and
    * deliberately NOT cleaned on exit: the driver's DuckDB oracle reads
    * these files back by glob after this JVM is gone. A few KB each,
    * under the system tmpdir's normal reaping. */
  lazy val defaultStageDir: String =
    java.nio.file.Files.createTempDirectory("graft-url-stage").toString

  def stageQueryFixtures(dir: String = defaultStageDir): String = {
    val d = new java.io.File(dir)
    d.mkdirs()
    def bfsPage(title: String, links: String): Array[Byte] =
      (s"<html><head><title>$title</title></head><body>" +
        s"<p>A paragraph of page body long enough to keep around here.</p>" +
        s"<p>$links</p></body></html>").getBytes(UTF_8)
    val files: Seq[(String, Array[Byte])] = Seq(
      "simple.eml" -> DocFixtures.simpleEml.getBytes(UTF_8),
      "multi.eml" -> DocFixtures.multiEml.getBytes(UTF_8),
      "notes.txt" -> notesTxt.getBytes(UTF_8),
      "report.pdf" -> reportPdf.getBytes(UTF_8),
      // the crawl_fetch_e2e page — the ingest oracles glob *.eml/*.txt/
      // *.pdf only, so an .html member cannot disturb them
      "blog.html" -> DocFixtures.blogHtml.getBytes(UTF_8),
      // the crawl_bfs chain: a → b (and b cycles back to a), b → c,
      // c → d — with maxDepth 2 the walk fetches a/b/c, never d, and
      // the cycle edge must not re-fetch a (visited-set semantics)
      "bfs-a.html" -> bfsPage("BFS A", """Go <a href="bfs-b.html">deeper</a>."""),
      "bfs-b.html" -> bfsPage("BFS B",
        """Back <a href="bfs-a.html">up</a> or <a href="bfs-c.html">on</a>."""),
      "bfs-c.html" -> bfsPage("BFS C", """Last hop <a href="bfs-d.html">there</a>."""),
      "bfs-d.html" -> bfsPage("BFS D", "The page the depth cap never reaches."))
    // the oracle reads this dir back by GLOB — remove anything that is
    // not the current fixture set, or a stale file makes the oracle see
    // rows the engine side never ingested. The sitemap-tree members are
    // staged SEPARATELY (their index needs the live port for absolute
    // child <loc>s) — keep them across re-stages
    val keep = files.map(_._1).toSet ++
      Set("sitemap-index.xml", "sitemap-posts.xml", "sitemap-pages.xml.gz",
        "site.html", "article1.html", "article2.html", "article3.html",
        "article4.html", "article5.html", "article6.html", "article7.html",
        "dup.html", "readme.md", "site-sitemap.xml")
    Option(d.listFiles()).getOrElse(Array.empty)
      .filterNot(f => keep(f.getName)).foreach(_.delete())
    files.foreach { case (n, b) =>
      java.nio.file.Files.write(new java.io.File(d, n).toPath, b)
    }
    dir
  }

  /** Stage the sitemap TREE fixtures behind the loopback server and
    * return the server base URL. Staged lazily (the index's child
    * `<loc>`s must be absolute per sitemaps.org, so they need the live
    * port): an index whose members are a plain child urlset, a GZIPPED
    * child urlset (`.xml.gz`, the large-site convention), a cycle back
    * to the index itself, a non-fetchable scheme, and a 404 child —
    * every edge the one-level walk ([[UrlOps.sitemapTree]]) must
    * survive. */
  lazy val sitemapTreeBase: String = {
    val base = s"http://127.0.0.1:$fixtureServerPort"
    val pagesXml =
      """<?xml version="1.0" encoding="UTF-8"?>
        |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
        | <url>
        |  <loc>http://example.com/team</loc>
        |  <lastmod>2026-02-02</lastmod>
        | </url>
        | <url><loc>http://example.com/careers</loc><priority>0.5</priority></url>
        |</urlset>
        |""".stripMargin
    val indexXml =
      s"""<?xml version="1.0" encoding="UTF-8"?>
         |<sitemapindex xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
         | <sitemap><loc>$base/sitemap-posts.xml</loc></sitemap>
         | <sitemap><loc>$base/sitemap-pages.xml.gz</loc></sitemap>
         | <sitemap><loc>$base/sitemap-index.xml</loc></sitemap>
         | <sitemap><loc>ftp://example.com/never.xml</loc></sitemap>
         | <sitemap><loc>$base/sitemap-missing.xml</loc></sitemap>
         |</sitemapindex>
         |""".stripMargin
    val gzPages = {
      val out = new java.io.ByteArrayOutputStream()
      val gz = new java.util.zip.GZIPOutputStream(out)
      try gz.write(pagesXml.getBytes(UTF_8)) finally gz.close()
      out.toByteArray
    }
    val d = new java.io.File(defaultStageDir)
    d.mkdirs()
    Seq[(String, Array[Byte])](
      "sitemap-index.xml" -> indexXml.getBytes(UTF_8),
      "sitemap-posts.xml" -> DocFixtures.sitemapXml.getBytes(UTF_8),
      "sitemap-pages.xml.gz" -> gzPages
    ).foreach { case (n, b) =>
      java.nio.file.Files.write(new java.io.File(d, n).toPath, b)
    }
    base
  }

  /** Stage the crawl-corpus mini-site behind the loopback server and
    * return the base URL — the end-to-end fixture for
    * `crawl_corpus_e2e`: a hub page whose links exercise every
    * discovery edge (relative hrefs, a robots-denied path, a mailto:,
    * a tracking-param duplicate), and five articles whose content
    * exercises every corpus-verdict family (a clean keeper, a
    * near-duplicate, a word-soup junk page, a benchmark-contaminated
    * page, an exact mirror). Deterministic bytes; hand-derived
    * verdicts live in the oracle. */
  lazy val crawlSiteBase: String = {
    val base = s"http://127.0.0.1:$fixtureServerPort"
    // the host-wide boilerplate line every page carries (rendered as
    // its own block): per-page heuristics cannot see it, the CCNet
    // host-line-dedup stage must strip it from every extraction
    val footer = "<p>Subscribe to the graft newsletter for weekly updates.</p>"
    def page(title: String, body: String): Array[Byte] =
      (s"<html><head><title>$title</title></head><body>\n$body\n$footer\n</body></html>")
        .getBytes(UTF_8)
    val article1Body =
      "<p>The crawl pipeline fetches pages politely and extracts the main " +
      "content with care. Boilerplate removal decides corpus quality, so the " +
      "extractor measures link density for every block. Clean prose survives " +
      "the published filters that guard the training corpus of this site. " +
      "We keep sentences that end properly and carry enough words to matter " +
      "for statistics.</p>"
    val files: Seq[(String, Array[Byte])] = Seq(
      "site.html" -> page("Crawl Hub",
        "<nav><a href=\"/\">Home</a></nav>\n" +
        "<p>Fresh stories from the graft crawl demo site, updated daily for readers.</p>\n" +
        "<div class=\"toc\"><a href=\"article1.html\">Parsing</a> " +
        "<a href=\"article2.html\">Parsing again</a> " +
        "<a href=\"article3.html\">Fragments</a> " +
        "<a href=\"article4.html\">Benchmarks</a> " +
        "<a href=\"article5.html\">Scaling</a> " +
        "<a href=\"dup.html\">Mirror</a> " +
        "<a href=\"article7.html\">Preview</a> " +
        "<a href=\"/private/secret.html\">Secret</a> " +
        "<a href=\"article1.html?utm_source=feed\">Feed twin</a> " +
        // the markdown discovery edge (extractor routes on extension)
        "<a href=\"readme.md\">Readme</a> " +
        // a blocklisted partner domain: the RefinedWeb URL filter must
        // drop this BEFORE the frontier — filter before you fetch
        "<a href=\"http://tracker.spamads.com/pix.gif\">Partner</a> " +
        "<a href=\"mailto:editor@example.com\">Mail us</a></div>"),
      "article1.html" -> page("Polite crawling", article1Body),
      // ONE word changed vs article1 ("politely" -> "carefully"): an
      // exact-dedup miss the banded SimHash near-dup stage must catch
      "article2.html" -> page("Polite crawling again",
        article1Body.replace("politely", "carefully")),
      "article3.html" -> page("Fragments",
        "<p>spark filter join merge batch stream window hash scan vector column row</p>"),
      "article4.html" -> page("Benchmarks",
        "<p>Benchmark leakage is the quiet failure of corpus curation and must " +
        "be caught early. A document that quotes the secret benchmark answer " +
        "key poisons every downstream evaluation. Decontamination joins " +
        "document shingles with the benchmark set to find those quotes. " +
        "This page exists to prove that the filter works end to end.</p>"),
      "article5.html" -> page("Scaling the crawl",
        "<p>Scaling a crawler means carefully spacing requests per host and " +
        "respecting every robots policy. The frontier ranks urls by priority " +
        "and hands out polite fetch ticks. Budgets cap how many pages a " +
        "single host contributes to one batch. That keeps a hot domain from " +
        "ever flooding the corpus with its pages.</p>\n" +
        // an upstream proxy double-decoded this page once: the mojibake
        // repair stage must hand the Caf\u00c3\u00a9 below back as Caf\u00e9
        "<p>Some feeds hand us Caf\u00c3\u00a9 menus and the pipeline " +
        "repairs the encoding before any fingerprint is computed.</p>"),
      // the article1 BODY verbatim under another title: exact text dup
      "dup.html" -> page("Mirror of polite crawling", article1Body),
      // reachable ONLY through the site's sitemap (no inbound hub
      // link): proves the second discovery channel carries real pages
      "article6.html" -> page("Sitemap only",
        "<p>Corpus discovery has two channels and a crawler that reads " +
        "only links misses pages. The sitemap protocol publishes every " +
        "url a host wants indexed. This page is reachable through that " +
        "channel alone, with no inbound link from the hub. Counting it " +
        "in the corpus proves the second channel carries real weight.</p>"),
      // clean prose that passes EVERY cleaning family — but the page
      // declares <meta name=robots noindex>, the self-exclusion a
      // polite crawler honors at corpus membership (the directive gate
      // is separate from quality: good text can still opt out)
      "article7.html" ->
        ("<html><head><title>Embargoed preview</title>\n" +
          "<meta name=\"robots\" content=\"noindex\">\n" +
          "</head><body>\n" +
          "<p>Publishers often stage embargoed previews that read perfectly " +
          "well and still must stay out of every index. The robots meta tag " +
          "is the contract for that choice, and a polite crawler honors it " +
          "at corpus membership time. Quality filtering alone would keep " +
          "this page, which is exactly why the directive gate exists.</p>\n" +
          footer + "\n</body></html>").getBytes(UTF_8),
      // the markdown page (hub-linked): extractor tier must route on
      // extension; content passes every cleaning family and carries a
      // DECOMPOSED e + U+0301 the NFC stage must compose
      "readme.md" ->
        ("# Graft crawl readme\n\n" +
          "The graft demo corpus ships one markdown page to prove that the " +
          "extractor tier handles the format of developer documentation. " +
          "It reads cleanly and carries enough words for every quality " +
          "family in the verdict to pass.\n\n" +
          "A Cafe\u0301 menu line proves that unicode normalization runs " +
          "before any fingerprint is computed. The sentences end properly " +
          "and the words stay in plain english for the language filter.\n")
          .getBytes(UTF_8),
      "site-sitemap.xml" ->
        (s"""<?xml version="1.0" encoding="UTF-8"?>
            |<urlset xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">
            | <url><loc>$base/article5.html</loc><priority>0.9</priority></url>
            | <url><loc>$base/article6.html</loc><priority>0.7</priority></url>
            |</urlset>
            |""".stripMargin).getBytes(UTF_8))
    val d = new java.io.File(defaultStageDir)
    d.mkdirs()
    files.foreach { case (n, b) =>
      java.nio.file.Files.write(new java.io.File(d, n).toPath, b)
    }
    base
  }

  /** Loopback HTTP fixture server (JDK `com.sun.net.httpserver`, no
    * egress): serves the [[stageQueryFixtures]] files from 127.0.0.1 so
    * [[fetchUdf]]'s REAL `http://` transport — status handling, headers,
    * retry/backoff — runs end-to-end in the sandbox. Routes:
    *
    *  - `/<name>` → 200 + the staged file's bytes; 404 if absent.
    *  - `/flaky/<name>` → 503 whenever the request's `X-Graft-Attempt`
    *    header is `1`, else the file. Keying the failure on the CLIENT'S
    *    attempt counter (rather than server-side request history) makes
    *    the flake deterministic per fetch — every run observes exactly
    *    one 503 + one real backoff sleep + one 200, however many times
    *    the query executes in the JVM.
    *
    * Lazily started on an ephemeral port, lives for the JVM (queries
    * build DataFrames that execute AFTER the builder returns, so
    * per-query start/stop would race the lazy execution). EVERY server
    * thread must be a daemon — including the `HTTP-Dispatcher` thread
    * `HttpServer.start()` spawns internally, which inherits daemon
    * status from its creating thread; hence create+start run inside a
    * short-lived daemon boot thread. (A non-daemon dispatcher deadlocks
    * JVM exit: DestroyJavaVM waits on it, while any stop() shutdown hook
    * waits on DestroyJavaVM — observed as a hung `runMain graft.Verify`.)
    * Test fixture only: on a real cluster executors cannot reach the
    * driver's loopback — production URL lists point at real hosts and
    * never touch this object. */
  lazy val fixtureServerPort: Int = {
    val dir = stageQueryFixtures()
    @volatile var port = -1
    val boot = new Thread(() => {
      val srv = com.sun.net.httpserver.HttpServer.create(
        new java.net.InetSocketAddress("127.0.0.1", 0), 0)
      val pool = java.util.concurrent.Executors.newFixedThreadPool(4, r => {
        val t = new Thread(r, "graft-http-fixtures"); t.setDaemon(true); t
      })
      srv.setExecutor(pool)
      srv.createContext("/", (ex: com.sun.net.httpserver.HttpExchange) => {
        try {
          val raw = ex.getRequestURI.getPath
          val firstAttempt = ex.getRequestHeaders.getFirst("X-Graft-Attempt") == "1"
          def reply(code: Int, body: Array[Byte]): Unit = {
            ex.sendResponseHeaders(code, body.length)
            ex.getResponseBody.write(body)
          }
          /** 200 with ETag (strong validator: content hash) +
            * Content-Type by extension; If-None-Match hit → 304. The
            * same serving path backs every file route so conditional
            * GETs and redirect targets behave like any static server. */
          def serveFile(name: String): Unit = {
            val f = new java.io.File(dir, name.replace("/", "")) // flat dir, no traversal
            if (!f.isFile) { reply(404, "not found".getBytes(UTF_8)); return }
            val body = java.nio.file.Files.readAllBytes(f.toPath)
            val etag = {
              val d = java.security.MessageDigest.getInstance("SHA-256").digest(body)
              "\"" + d.take(8).map(b => f"$b%02x").mkString + "\""
            }
            val ct =
              if (name.endsWith(".html")) "text/html; charset=utf-8"
              else if (name.endsWith(".xml")) "application/xml"
              else if (name.endsWith(".gz")) "application/gzip"
              else if (name.endsWith(".txt")) "text/plain"
              else "application/octet-stream"
            // deterministic per-content date (not wall clock): the
            // If-Modified-Since exchange is an exact-echo compare
            val lastMod = s"Mon, 0${(body.length % 9) + 1} Jan 2026 00:00:00 GMT"
            ex.getResponseHeaders.set("ETag", etag)
            ex.getResponseHeaders.set("Last-Modified", lastMod)
            ex.getResponseHeaders.set("Content-Type", ct)
            val inm = ex.getRequestHeaders.getFirst("If-None-Match")
            val ims = ex.getRequestHeaders.getFirst("If-Modified-Since")
            if (inm == etag || (inm == null && ims == lastMod))
              ex.sendResponseHeaders(304, -1) // no body on 304
            else reply(200, body)
          }
          val redir = "^/redir/(\\d+)/([^/]+)$".r
          raw match {
            case _ if raw.startsWith("/flaky/") && firstAttempt =>
              reply(503, "try again".getBytes(UTF_8)) // no Retry-After: the blind-backoff path
            case _ if raw.startsWith("/flaky/") =>
              serveFile(raw.stripPrefix("/flaky/"))
            case redir(n, name) =>
              // hop chain: /redir/N/x → /redir/N-1/x → … → /x, rotating
              // the three GET-preserving permanent/temporary codes;
              // Location is RELATIVE (RFC 9110 allows it; resolution is
              // the client's RFC 3986 §5 job)
              val hops = n.toInt
              val code = Seq(301, 302, 308)(hops % 3)
              val loc = if (hops > 1) s"/redir/${hops - 1}/$name" else s"/$name"
              ex.getResponseHeaders.set("Location", loc)
              ex.sendResponseHeaders(code, -1)
            case _ if raw.startsWith("/redirloop/") =>
              ex.getResponseHeaders.set("Location", raw) // self-cycle
              ex.sendResponseHeaders(302, -1)
            case _ if raw.startsWith("/throttle/") && firstAttempt =>
              ex.getResponseHeaders.set("Retry-After", "1") // explicit delay-seconds
              reply(429, "slow down".getBytes(UTF_8))
            case _ if raw.startsWith("/throttle/") =>
              serveFile(raw.stripPrefix("/throttle/"))
            case _ if raw.startsWith("/xnoindex/") =>
              // HTTP-layer robots directive (X-Robots-Tag) on an
              // otherwise normal file response
              ex.getResponseHeaders.set("X-Robots-Tag", "noindex")
              serveFile(raw.stripPrefix("/xnoindex/"))
            case _ if raw.startsWith("/gzbody/") =>
              // gzip transfer coding when (and only when) the client
              // advertised it — the bandwidth path a real server takes
              val name = raw.stripPrefix("/gzbody/").replace("/", "")
              val f = new java.io.File(dir, name)
              val accepts = Option(ex.getRequestHeaders.getFirst("Accept-Encoding"))
                .exists(_.toLowerCase.contains("gzip"))
              if (!f.isFile) reply(404, "not found".getBytes(UTF_8))
              else if (!accepts) serveFile(name)
              else {
                val plain = java.nio.file.Files.readAllBytes(f.toPath)
                val bos = new java.io.ByteArrayOutputStream()
                val g = new java.util.zip.GZIPOutputStream(bos)
                g.write(plain); g.close()
                ex.getResponseHeaders.set("Content-Encoding", "gzip")
                ex.getResponseHeaders.set("Content-Type",
                  if (name.endsWith(".html")) "text/html; charset=utf-8" else "text/plain")
                reply(200, bos.toByteArray)
              }
            case _ =>
              serveFile(raw.stripPrefix("/"))
          }
        } finally ex.close()
      })
      srv.start()
      port = srv.getAddress.getPort
    }, "graft-http-fixtures-boot")
    boot.setDaemon(true)
    boot.start()
    boot.join(30000)
    require(port > 0, "loopback fixture server failed to start")
    port
  }
}
