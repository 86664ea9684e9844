package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, StringType}
import graft.functions.{Kernel, RobotsMatcher, UrlKernels}

/** URL canonicalization — the crawl-dedup primitive that pairs with
  * [[Html]]: a web corpus keyed by raw URL over-counts (case, default
  * ports, fragments, tracking params, param order all vary per fetch),
  * so exact dedup and the S2 hash cache both want one canonical form.
  *
  * The rule set is FIXED and documented (each is the standard
  * RFC 3986 §6 normalization or the universal crawler convention):
  *  1. scheme and host lowercase (path case is significant — kept);
  *  2. default ports strip (`:80` for http, `:443` for https);
  *  3. the fragment drops (never sent to the server);
  *  4. tracking params drop: names starting `utm_`, plus `fbclid` and
  *     `gclid`;
  *  5. remaining query params sort bytewise (param ORDER is
  *     server-insignificant in practice; sorting makes equal
  *     param-sets equal strings);
  *  6. a trailing slash strips from a non-root path, and an EMPTY
  *     path normalizes to `/` (§6.2.3);
  *  7. an emptied query drops its `?`.
  *
  * Scale shape: a per-row column expression — zero shuffle, no UDF.
  * The param filter/sort ride Spark's higher-order functions
  * (CodegenFallback, but over a handful of short tokens per row — not
  * a hot fold over document text; the SimHash/DSIR native-kernel rule
  * targets per-token corpus passes, not per-row metadata). */
object UrlOps {

  /** Tracking-param filter (rule 4), applied with `rlike` semantics —
    * shared by [[graft.functions.UrlKernels]] and the column-form twin
    * its parity spec checks. */
  private[graft] final val trackingRe = "^(utm_[^=]*|fbclid|gclid)(=.*)?$"

  /** robots.txt rules for one user-agent: (allow?, path prefix),
    * already restricted to the matching agent group; `crawlDelaySec`
    * is the group's `Crawl-delay` directive when present (the de-facto
    * extension Bing/Yandex honor — RFC 9309 leaves it undefined but a
    * polite crawler reads it); `sitemaps` are the file's `Sitemap:`
    * directives — GROUP-INDEPENDENT per sitemaps.org (they bind to the
    * whole file wherever they appear), the entry points a crawler
    * hands to [[sitemapTree]]. */
  final case class RobotsRules(rules: Seq[(Boolean, String)],
                               crawlDelaySec: Option[Int] = None,
                               sitemaps: Seq[String] = Nil)

  /** Parse a robots.txt body for one user agent (exact token match or
    * `*`), longest-match semantics (RFC 9309 §2.2.2): group lines
    * under their `User-agent:` headers, keep the most specific
    * matching group (exact agent beats `*`), collect its Allow /
    * Disallow path prefixes. Empty `Disallow:` means allow-all (the
    * classic idiom) and contributes no rule. Comments (`#`) strip. A
    * robots.txt is one bounded file per HOST — driver-side parsing is
    * the right place; the MATCHING compiles into a column expression
    * ([[robotsAllowed]]). */
  def parseRobots(txt: String, agent: String): RobotsRules = {
    val a = agent.toLowerCase(java.util.Locale.ROOT)
    var groupAgents = List.empty[String] // agents of the OPEN group
    var sawRule = false // rules close a group; more User-agent lines reopen
    val exact = scala.collection.mutable.ArrayBuffer[(Boolean, String)]()
    val star = scala.collection.mutable.ArrayBuffer[(Boolean, String)]()
    var exactSeen = false
    var exactDelay: Option[Int] = None
    var starDelay: Option[Int] = None
    val sitemaps = scala.collection.mutable.ArrayBuffer[String]()
    txt.split("\n").foreach { raw =>
      val line = raw.takeWhile(_ != '#').trim
      val c = line.indexOf(':')
      if (c > 0) {
        val key = line.substring(0, c).trim.toLowerCase(java.util.Locale.ROOT)
        val value = line.substring(c + 1).trim
        key match {
          case "user-agent" =>
            if (sawRule) { groupAgents = Nil; sawRule = false }
            groupAgents ::= value.toLowerCase(java.util.Locale.ROOT)
          case "allow" | "disallow" =>
            sawRule = true
            val isAllow = key == "allow"
            if (value.nonEmpty) {
              if (groupAgents.contains(a)) { exact += ((isAllow, value)); exactSeen = true }
              else if (groupAgents.contains("*")) star += ((isAllow, value))
            } else if (groupAgents.contains(a)) exactSeen = true
          case "crawl-delay" =>
            sawRule = true
            value.toIntOption.filter(_ >= 0).foreach { d =>
              if (groupAgents.contains(a)) { exactDelay = Some(d); exactSeen = true }
              else if (groupAgents.contains("*") && starDelay.isEmpty) starDelay = Some(d)
            }
          case "sitemap" =>
            // group-independent (sitemaps.org): collected wherever it
            // appears, and it neither opens nor closes a group
            if (value.nonEmpty) sitemaps += value
          case _ => () // unknown — ignored
        }
      }
    }
    if (exactSeen) RobotsRules(exact.toSeq, exactDelay, sitemaps.toSeq)
    else RobotsRules(star.toSeq, starDelay, sitemaps.toSeq)
  }

  /** One robots path pattern → the anchored regex RFC 9309 §2.2.3
    * requires: `*` matches any run of characters, a TRAILING `$`
    * anchors the end, every other character is literal. */
  private[graft] def robotsPatternRegex(pattern: String): String = {
    val (body, anchored) =
      if (pattern.endsWith("$")) (pattern.dropRight(1), true) else (pattern, false)
    val sb = new StringBuilder("^")
    body.foreach {
      case '*' => sb ++= ".*"
      case c if "\\.[]{}()<>+-=!?^$|".indexOf(c) >= 0 => sb += '\\'; sb += c
      case c => sb += c
    }
    if (anchored) sb += '$'
    sb.toString
  }

  /** Is `path` allowed under the rules? The most specific (longest
    * PATTERN) matching rule wins; Allow wins a length tie; no match ⇒
    * allowed (RFC 9309 §2.2.2). Patterns support the RFC's `*` and
    * trailing `$` wildcards via [[robotsPatternRegex]]. ONE call of
    * the precompiled per-host matcher ([[graft.functions.RobotsMatcher]])
    * — the rule set rides the plan as a single reference object
    * instead of a 4-nodes-per-rule
    * when-chain (quadratic fold nesting was the crawl tier's dominant
    * driver-side Catalyst cost, SCALING.md r17); the path column is
    * corpus-sized and nothing shuffles. Match semantics are pinned
    * slot-for-slot against the original when-chain (UrlKernelsSpec). */
  def robotsAllowed(rules: RobotsRules)(path: Column): Column =
    Kernel.invoke(new RobotsMatcher(rules.rules.toArray, robotsPatternRegex),
      "allowed", BooleanType, path)

  /** One sitemap entry: `kind` is `url` (a urlset member) or `sitemap`
    * (an index member pointing at a child sitemap). */
  final case class SitemapEntry(kind: String, loc: String,
                                lastmod: Option[String],
                                priority: Option[Double])

  /** Parse a sitemap.xml / sitemap-index.xml (sitemaps.org protocol):
    * `<urlset>` yields its `<url>` members, `<sitemapindex>` yields its
    * `<sitemap>` members — a crawler walks the index to child sitemaps
    * and the urlsets to fetchable URLs. XXE-hardened DOM (untrusted
    * bytes, same settings as the DOCX walk); entries without a `<loc>`
    * are skipped; malformed XML yields None (validator surface). */
  def parseSitemap(bytes: Array[Byte],
                   maxInflate: Long = UrlIngest.MaxFileSize): Option[Seq[SitemapEntry]] =
    try {
      // sitemaps.org allows gzip-compressed maps (sitemap.xml.gz) —
      // sniff the magic and inflate before the XML walk. The inflate
      // is BOUNDED by the same 50 MB cap as the fetch path
      // ([[UrlIngest.MaxFileSize]], which is also sitemaps.org's own
      // uncompressed limit): a small hostile .gz from the open web
      // must not decompress to gigabytes on an executor — over-cap
      // maps yield None (the validator surface), never an OOM
      val raw =
        if (bytes.length >= 2 && (bytes(0) & 0xff) == 0x1f && (bytes(1) & 0xff) == 0x8b) {
          val cap = maxInflate.min(Int.MaxValue - 8L).toInt
          val in = new java.util.zip.GZIPInputStream(
            new java.io.ByteArrayInputStream(bytes))
          try {
            val out = in.readNBytes(cap)
            if (in.read() >= 0) return None // exceeds the cap mid-stream
            out
          } finally in.close()
        } else bytes
      parseSitemapXml(raw)
    } catch { case scala.util.control.NonFatal(_) => None }

  private def parseSitemapXml(bytes: Array[Byte]): Option[Seq[SitemapEntry]] =
    try {
      val f = javax.xml.parsers.DocumentBuilderFactory.newInstance()
      f.setNamespaceAware(true)
      f.setFeature("http://apache.org/xml/features/disallow-doctype-decl", true)
      f.setXIncludeAware(false)
      f.setExpandEntityReferences(false)
      val doc = f.newDocumentBuilder()
        .parse(new java.io.ByteArrayInputStream(bytes))
      val root = doc.getDocumentElement
      val kind = root.getLocalName match {
        case "urlset" => "url"
        case "sitemapindex" => "sitemap"
        case _ => return None
      }
      def kids(n: org.w3c.dom.Node) = {
        val cs = n.getChildNodes
        (0 until cs.getLength).map(cs.item)
          .collect { case e: org.w3c.dom.Element => e }
      }
      def text(e: org.w3c.dom.Element, name: String): Option[String] =
        kids(e).find(_.getLocalName == name).map(_.getTextContent.trim)
          .filter(_.nonEmpty)
      Some(kids(root).filter(_.getLocalName == kind).flatMap { e =>
        text(e, "loc").map(loc => SitemapEntry(kind, loc,
          text(e, "lastmod"),
          text(e, "priority").flatMap(_.toDoubleOption)))
      })
    } catch { case scala.util.control.NonFatal(_) => None }

  val parseSitemapUdf = udf((bytes: Array[Byte]) => parseSitemap(bytes))

  /** One row per sitemap entry: (site, kind, loc, lastmod,
    * priority_micro) — priority in exact integer micro-units (the
    * cross-engine float rule). */
  def sitemapEntries(files: org.apache.spark.sql.DataFrame,
                     fileCol: String = "site",
                     binCol: String = "content"): org.apache.spark.sql.DataFrame =
    files.select(col(fileCol).as("site"),
        explode(parseSitemapUdf(col(binCol))).as("e"))
      .select(col("site"), col("e.kind").as("kind"), col("e.loc").as("loc"),
        col("e.lastmod").as("lastmod"),
        round(col("e.priority") * 1e6, 0).cast("long").as("priority_micro"))

  /** Walk a sitemap TREE through the real transport — the discovery
    * shape every production crawler runs (robots points at
    * `sitemap.xml`, which for any large site is an INDEX whose members
    * are the real urlsets): fetch each seed sitemap
    * ([[UrlIngest.fetchBytes]] — retry/backoff/size-cap), parse it,
    * follow `sitemapindex` members ONE level to their child sitemaps,
    * and emit every urlset member tagged with the sitemap that carried
    * it. One level is the documented subset (sitemaps.org §"index
    * files cannot list other index files" — a spec-conformant tree is
    * exactly two levels); children equal to a seed are cycle-guarded
    * by anti-join, non-http(s) members drop at [[isFetchable]], and a
    * failed child fetch (404 after retries, over-cap gz) contributes
    * no rows — absence, never a job failure.
    *
    * Scale shape: fetches are the per-row executor kernel (parallelism
    * = partitions of the sitemap list); the only exchanges are a
    * `distinct` + broadcast anti-join over the CHILD SITEMAP LIST —
    * sitemap counts are thousands-per-host, never corpus-sized. */
  def sitemapTree(seeds: org.apache.spark.sql.DataFrame,
                  urlCol: String = "url",
                  maxBytes: Long = UrlIngest.MaxFileSize,
                  backoffMs: Long = 0L): org.apache.spark.sql.DataFrame = {
    def entriesOf(urls: org.apache.spark.sql.DataFrame) =
      UrlIngest.fetchBytes(urls, maxBytes, backoffMs = backoffMs)
        .filter(col("content").isNotNull)
        .select(col("url").as("sitemap"),
          explode(parseSitemapUdf(col("content"))).as("e"))
    val seedUrls = seeds.select(col(urlCol).as("url"))
    val e0 = entriesOf(seedUrls)
    val children = e0.filter(col("e.kind") === "sitemap")
      .select(col("e.loc").as("url"))
      .filter(isFetchable(col("url")))
      .distinct()
      .join(broadcast(seedUrls), Seq("url"), "left_anti")
    // one level: an index member inside a CHILD is ignored (kind filter)
    val e1 = entriesOf(children)
    e0.unionByName(e1)
      .filter(col("e.kind") === "url")
      .select(col("sitemap"), col("e.loc").as("loc"),
        col("e.lastmod").as("lastmod"),
        round(col("e.priority") * 1e6, 0).cast("long").as("priority_micro"))
  }

  /** RFC 3986 §6 canonicalization as ONE native kernel call
    * ([[graft.functions.UrlKernels.canonicalize]] — a flat char scan inside
    * whole-stage codegen; rule list in this object's header).
    * The dedup keys it emits are byte-identical to the original
    * regexp column formulation (fuzz-pinned, UrlKernelsSpec), which is
    * what the DuckDB oracles replay. */
  def canonicalizeUrl(url: Column): Column =
    Kernel.call(UrlKernels, "canonicalize", StringType, url)

  /** Extract the (lowercased) host from an absolute URL — userinfo and
    * port excluded. Empty string for non-absolute input. ONE native
    * kernel call ([[graft.functions.UrlKernels.host]] — it rides every per-row
    * frontier projection: [[crawlFrontier]], [[urlFilter]], the crawl
    * stats), byte-identical to the original regexp formulation
    * (fuzz-pinned, UrlKernelsSpec). */
  def urlHost(url: Column): Column =
    Kernel.call(UrlKernels, "host", StringType, url)

  /** Resolve an extracted href against its page URL — the RFC 3986 §5
    * cases a crawler's discovery stage actually meets: hrefs carrying
    * ANY scheme pass through unchanged (`http://...` stays a fetchable
    * absolute URL; authority-less schemes — `mailto:`, `javascript:`,
    * `tel:`, `data:` — stay themselves so the downstream http(s)
    * filter drops them, instead of being concatenated into bogus
    * fetchable URLs); `//host/...` takes the base scheme; `/path`
    * takes the base origin; empty and `#fragment` hrefs mean "this
    * page"; a query-only href (`?page=2`) KEEPS the base path
    * (§5.3: an undefined relative path inherits the base path whole);
    * anything else is path-relative and appends to the base DIRECTORY
    * (the base URL minus query/fragment and its last path segment).
    * Dot segments (`../`) are NOT collapsed — a documented subset; the
    * canonicalizer downstream dedups the common spellings, and a
    * frontier that re-fetches `a/../b` vs `b` costs one duplicate
    * fetch, never a wrong key collision. ONE native kernel call
    * ([[graft.functions.UrlKernels.resolve]]) — zero shuffle, zero UDF,
    * byte-identical to the original when-chain (fuzz-pinned,
    * UrlKernelsSpec) including the null algebra (null href ⇒ null; a
    * null base still resolves scheme-carrying hrefs to themselves). */
  def resolveUrl(base: Column, href: Column): Column =
    Kernel.callNulls(UrlKernels, "resolve", StringType, base, href)

  /** Is a (resolved) URL something the crawl tier can actually fetch?
    * http/https only — the gate that drops `mailto:`/`javascript:`/
    * `tel:`/`data:` hrefs after [[resolveUrl]] passes them through. */
  def isFetchable(url: Column): Column = url.rlike("^https?://")

  /** Per-host politeness scheduling over the crawl frontier — the
    * distributed analogue of the reference's per-host connection cap
    * (`ingestion_service.py:76` bounds concurrent fetches; a
    * distributed crawler bounds the next FETCH BATCH per host instead):
    * rank each host's candidate URLs by (priority desc, url asc — a
    * deterministic total order) and keep at most `hostBudget` per host.
    *
    * Output adds `host`, `fetch_rank` (1-based) and `fetch_tick_sec` =
    * (rank−1)·delay — the earliest polite fetch time for the URL
    * relative to the host's schedule start. The delay is PER HOST:
    * `hostDelays` (columns `host`, `crawl_delay_sec` — each host's own
    * parsed robots `Crawl-delay`, [[RobotsRules.crawlDelaySec]]) joins
    * in BROADCAST, and hosts it doesn't list fall back to
    * `crawlDelaySec`. A multi-host frontier spaces each host by ITS
    * robots delay — one scalar for every host was the round-16
    * semantics gap. Scale shape: ONE hash shuffle on
    * host; the rank filter
    * is a rank-limit window, which Spark executes as WindowGroupLimit —
    * each partition keeps only its top `hostBudget` rows per host
    * before the sort completes, so a 100 TB frontier with a hot host
    * (the skew case: one domain contributing millions of URLs) never
    * materializes more than `hostBudget` rows per host per partition
    * map-side. The delay join is a broadcast hash join below the
    * window (hosts with an EXPLICIT robots delay are few relative to
    * URLs — the delay table is a per-host sidecar, never corpus-sized),
    * so it adds zero exchanges. */
  def crawlFrontier(urls: org.apache.spark.sql.DataFrame, hostBudget: Int = 5,
                    crawlDelaySec: Int = 1, urlCol: String = "url",
                    prioCol: String = "priority_micro",
                    hostDelays: Option[org.apache.spark.sql.DataFrame] = None)
      : org.apache.spark.sql.DataFrame = {
    require(hostBudget >= 1, s"hostBudget must be >= 1, got $hostBudget")
    require(crawlDelaySec >= 0, s"crawlDelaySec must be >= 0, got $crawlDelaySec")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host"))
      .orderBy(col(prioCol).desc_nulls_last, col(urlCol).asc)
    val withHost = urls.withColumn("host", urlHost(col(urlCol)))
    val withDelay = hostDelays match {
      case Some(d) => withHost
        .join(broadcast(d.select(col("host"),
          col("crawl_delay_sec").cast("long").as("_host_delay"))), Seq("host"), "left")
      case None => withHost.withColumn("_host_delay", lit(null).cast("long"))
    }
    withDelay
      .withColumn("fetch_rank", row_number().over(w))
      .filter(col("fetch_rank") <= hostBudget)
      .withColumn("fetch_tick_sec",
        (col("fetch_rank") - 1).cast("long") *
          coalesce(col("_host_delay"), lit(crawlDelaySec.toLong)))
      .drop("_host_delay")
  }

  /** Adaptive revisit scheduling — WHICH urls are due, from the fetch
    * history the conditional-GET tier records (the policy every
    * production crawler layers on 304 revalidation; cf. Cho &
    * Garcia-Molina 2003's change-rate estimators): a page observed to
    * change often earns a short revisit interval, a static page a long
    * one, interpolated linearly between the two bounds from the
    * observed change fraction. All arithmetic is exact integer micro
    * units (the cross-engine fixed-point rule).
    *
    * Input: one row per (url, fetch), `changedCol` BOOLEAN = that fetch
    * saw new content (a 200 with a fresh validator; a 304 is
    * unchanged). Output: one row per url —
    * `(url, n_fetches, n_changes, change_rate_micro, interval_sec,
    * last_fetch_sec, next_due_sec, due, overdue_sec)`.
    *
    * Scale shape: ONE url-keyed partial-combined aggregate over the
    * history — no window, no join; the history table is append-only
    * and naturally partitioned by fetch day. Feed the due set to
    * [[dueTopN]] and then [[UrlIngest.fetchBytesConditional]]. */
  def recrawlSchedule(history: org.apache.spark.sql.DataFrame, nowSec: Long,
                      minIntervalSec: Long = 3600L,
                      maxIntervalSec: Long = 30L * 86400L,
                      urlCol: String = "url", tsCol: String = "fetch_ts_sec",
                      changedCol: String = "changed")
      : org.apache.spark.sql.DataFrame = {
    require(minIntervalSec >= 1 && maxIntervalSec >= minIntervalSec,
      s"need 1 <= minIntervalSec <= maxIntervalSec, got $minIntervalSec/$maxIntervalSec")
    val agged = history.groupBy(col(urlCol).as("url"))
      .agg(count(lit(1)).as("n_fetches"),
        sum(col(changedCol).cast("long")).as("n_changes"),
        max(col(tsCol).cast("long")).as("last_fetch_sec"))
    // floor(a/b) over exactly-representable longs == integer division
    // in both engines (operands < 2^53)
    val rate = floor(col("n_changes") * 1000000L / col("n_fetches")).cast("long")
    agged
      .withColumn("change_rate_micro", rate)
      .withColumn("interval_sec",
        lit(minIntervalSec) + floor(lit(maxIntervalSec - minIntervalSec) *
          (lit(1000000L) - col("change_rate_micro")) / 1000000L).cast("long"))
      .withColumn("next_due_sec", col("last_fetch_sec") + col("interval_sec"))
      .withColumn("due", col("next_due_sec") <= nowSec)
      .withColumn("overdue_sec",
        when(col("due"), lit(nowSec) - col("next_due_sec")).otherwise(lit(0L)))
  }

  /** Second-level TLD labels under which the REGISTRABLE domain takes
    * three labels (`example.co.uk`), not two — the pragmatic subset of
    * the public-suffix list a URL filter needs (the full PSL is a
    * runtime artifact; this fixed set covers the dominant ccTLD
    * conventions and is documented as an approximation). */
  private val SecondLevelTlds =
    Seq("co", "com", "org", "net", "ac", "gov", "edu")

  /** The registrable domain of a (lowercased) host: last two labels,
    * or last three when the second-to-last is a second-level TLD label
    * (`co.uk` etc.). A dotless host is its own domain. Pure column
    * expression over a tiny per-row label array. */
  def registrableDomain(host: Column): Column = {
    val labels = split(host, "\\.")
    val n = size(labels)
    when(n >= 3 && element_at(labels, -2).isin(SecondLevelTlds: _*),
        concat_ws(".", slice(labels, -3, 3)))
      .when(n >= 2, concat_ws(".", slice(labels, -2, 2)))
      .otherwise(host)
  }

  /** URL-level quality filtering — the FIRST filter curated web
    * pipelines run, before a byte of content is fetched (RefinedWeb,
    * Penedo et al. 2023 §3.1/App. G.1: a domain blocklist plus
    * URL-feature scoring removes the adult/spam tier at list price):
    *
    *  - `blocked`: the host's [[registrableDomain]] appears in
    *    `blockedDomains` (column `domain`) — an equi-join the planner
    *    broadcasts (a blocklist is millions of rows at most, a
    *    frontier is billions);
    *  - `bad_words`: Σ weight × occurrences of each (word, weight)
    *    over the lowercased URL reaches `badWordThreshold`
    *    (occurrences counted by the replace-length trick — exact,
    *    engine-portable);
    *  - `digits`: the host is ≥ half digits (micro-int compare — the
    *    DGA/spam-HOSTNAME shape). IPv4 literals are EXEMPT: an IP is
    *    a different signal class (datacenter hosting, not a generated
    *    name) and production pipelines score it separately — flagging
    *    every `203.0.113.7` as "digits" would conflate the two;
    *  - `too_long`: the URL exceeds `maxLen` chars.
    *
    * Output: url, host, domain, bad_word_score, reasons (ordered,
    * joined), keep. Everything except the broadcast blocklist join is
    * a per-row projection — zero corpus-sized shuffles. */
  def urlFilter(urls: org.apache.spark.sql.DataFrame,
                blockedDomains: org.apache.spark.sql.DataFrame,
                badWords: Seq[(String, Int)] = Seq(("xxx", 2), ("casino", 1)),
                badWordThreshold: Int = 2,
                maxLen: Int = 512,
                urlCol: String = "url"): org.apache.spark.sql.DataFrame = {
    require(badWordThreshold >= 1, s"badWordThreshold must be >= 1")
    val u = col(urlCol)
    val host = urlHost(u)
    val lu = lower(u)
    // foldLeft over a literal zero: an EMPTY badWords list is a legal
    // configuration (blocklist-only filtering) — reduce would throw at
    // plan time
    val score = badWords.map { case (w, wt) =>
      ((length(lu) - length(replace(lu, lit(w)))) / w.length * wt).cast("long")
    }.foldLeft(lit(0L): Column)(_ + _)
    val digitCount = length(regexp_replace(host, "[^0-9]", ""))
    urls
      .withColumn("host", host)
      .withColumn("domain", registrableDomain(col("host")))
      // distinct: an externally-sourced blocklist file routinely lists
      // a domain twice — without it the left join would DUPLICATE every
      // matching frontier row
      .join(broadcast(blockedDomains.select(col("domain")).distinct()
        .withColumn("_blocked", lit(true))), Seq("domain"), "left")
      .withColumn("bad_word_score", score.cast("long"))
      .withColumn("_r", array_compact(array(
        when(coalesce(col("_blocked"), lit(false)), "blocked"),
        when(col("bad_word_score") >= badWordThreshold, "bad_words"),
        when(!col("host").rlike("^[0-9]{1,3}(\\.[0-9]{1,3}){3}$") &&
          digitCount * 2 >= length(col("host")) && length(col("host")) > 0,
          "digits"),
        when(length(u) > maxLen, "too_long"))))
      .select(u.as("url"), col("host"), col("domain"), col("bad_word_score"),
        array_join(col("_r"), ",").as("reasons"),
        (size(col("_r")) === 0).as("keep"))
  }

  /** Host-level reputation from per-page corpus verdicts — the
    * FEEDBACK edge that closes the crawl loop (RefinedWeb curates its
    * URL blocklist partly from observed content; CCNet ranks hosts by
    * observed LM quality): aggregate each registrable domain's page
    * verdicts into a keep rate, and flag domains whose observed rate
    * falls below `minKeepRateMicro` once they carry at least
    * `minPages` observations (no statistical basis below that — the
    * [[graft.operators.Cleaning.hostLineDedup]] rule). The flagged
    * set IS a [[urlFilter]] `blockedDomains` table for the NEXT crawl
    * round: verdicts → reputation → blocklist → filter-before-fetch.
    *
    * Output: (domain, n_pages, n_keep, keep_rate_micro, blocked) —
    * exact integer micro units, the cross-engine rule.
    *
    * Scale shape: ONE doc-keyed equi-join (pages and verdicts are both
    * corpus tables partitioned on the id — colocated when bucketed) →
    * one domain-keyed partial-combined aggregate; domains ≪ pages, so
    * the output is blocklist-sized. */
  def hostReputation(pages: org.apache.spark.sql.DataFrame,
                     verdicts: org.apache.spark.sql.DataFrame,
                     minPages: Int = 3, minKeepRateMicro: Long = 300000L,
                     idCol: String = "doc_id", hostCol: String = "host",
                     keepCol: String = "keep")
      : org.apache.spark.sql.DataFrame = {
    require(minPages >= 1, s"need minPages >= 1, got $minPages")
    require(minKeepRateMicro >= 0 && minKeepRateMicro <= 1000000L,
      s"minKeepRateMicro must be in [0, 1e6], got $minKeepRateMicro")
    pages.select(col(idCol), registrableDomain(lower(col(hostCol))).as("domain"))
      .join(verdicts.select(col(idCol), col(keepCol).cast("boolean").as("_keep")),
        Seq(idCol))
      .groupBy(col("domain"))
      .agg(count(lit(1)).as("n_pages"),
        sum(when(col("_keep"), 1L).otherwise(0L)).as("n_keep"))
      .withColumn("keep_rate_micro",
        floor(col("n_keep") * 1000000L / col("n_pages")).cast("long"))
      .withColumn("blocked",
        col("n_pages") >= minPages && col("keep_rate_micro") < minKeepRateMicro)
  }

  /** Sitemap-lastmod-driven staleness — the OTHER due signal a
    * production recrawl layers on [[recrawlSchedule]]'s observed
    * change rates: the site itself declares when a page changed
    * (sitemaps.org `<lastmod>`), so a fetch ledger older than the
    * declared date marks the URL due without spending a conditional
    * GET. Day granularity by design (real sitemap lastmods are
    * overwhelmingly date-only; both engines do exact date math, no
    * timezone algebra). Rules:
    *  - entries dedupe to MAX lastmod per canonical url (a url may
    *    appear in several sitemaps);
    *  - `new`: never fetched; `updated`: declared lastmod strictly
    *    after the last fetch's day; `fresh`: everything else —
    *    including entries WITHOUT a lastmod that were fetched before
    *    (no signal is not a due signal);
    *  - `due` = new ∨ updated.
    *
    * Scale shape: two key-dedup aggregates and ONE url-keyed equi-join
    * — the sitemap table is site-sized, the ledger corpus-sized, both
    * partition on the same key. */
  def sitemapStaleness(entries: org.apache.spark.sql.DataFrame,
                       ledger: org.apache.spark.sql.DataFrame,
                       urlCol: String = "loc", lastmodCol: String = "lastmod",
                       ledgerUrlCol: String = "url",
                       fetchTsCol: String = "fetch_ts_sec")
      : org.apache.spark.sql.DataFrame = {
    val epoch = to_date(lit("1970-01-01"))
    val e = entries.select(canonicalizeUrl(col(urlCol)).as("url"),
        (datediff(to_date(col(lastmodCol)), epoch).cast("long") * 86400L)
          .as("lastmod_sec"))
      .groupBy(col("url")).agg(max(col("lastmod_sec")).as("lastmod_sec"))
    val l = ledger.select(canonicalizeUrl(col(ledgerUrlCol)).as("url"),
        col(fetchTsCol).cast("long").as("fetch_ts_sec"))
      .groupBy(col("url")).agg(max(col("fetch_ts_sec")).as("last_fetch_sec"))
    e.join(l, Seq("url"), "left")
      .withColumn("reason",
        when(col("last_fetch_sec").isNull, "new")
          .when(col("lastmod_sec") > col("last_fetch_sec") -
            pmod(col("last_fetch_sec"), lit(86400L)), "updated")
          .otherwise("fresh"))
      .withColumn("due", col("reason") =!= "fresh")
      .select(col("url"), col("lastmod_sec"), col("last_fetch_sec"),
        col("reason"), col("due"))
  }

  /** The recrawl batch: stalest-first top-N of the due set. An
    * `orderBy().limit()` — Spark's TakeOrderedAndProject: per-partition
    * top-N then a bounded merge, never a global sort or a
    * single-partition window. The result feeds
    * [[UrlIngest.fetchBytesConditional]] with each url's stored
    * validator. */
  def dueTopN(schedule: org.apache.spark.sql.DataFrame, topN: Int)
      : org.apache.spark.sql.DataFrame = {
    require(topN >= 1, s"need topN >= 1, got $topN")
    schedule.filter(col("due"))
      .orderBy(col("overdue_sec").desc, col("url").asc)
      .limit(topN)
  }

  /** THE production recrawl batch — the UNION of the two due signals a
    * real crawler runs side by side: [[recrawlSchedule]]'s OBSERVED
    * change rates (due = the adaptive interval elapsed) and
    * [[sitemapStaleness]]'s DECLARED lastmod (due = the site says the
    * page changed, or the sitemap lists a page never fetched). A url is
    * due when EITHER signal fires; the two legs dedupe on canonical
    * url through one full-outer equi-join, and the batch is
    * budget-capped stalest-first exactly like [[dueTopN]].
    *
    * Urgency (`overdue_sec`) is the max of the legs': the observed
    * leg's seconds past `next_due_sec`, the declared leg's seconds
    * since the declared lastmod (never-fetched entries and future
    * lastmods floor at 0 — listed, so due, but with no staleness
    * evidence to jump the queue on).
    *
    * Output: `(url, due_observed, due_declared, reasons, overdue_sec)`
    * — reasons ordered `overdue` → `sitemap_new` → `sitemap_updated`
    * so the column hashes stably.
    *
    * Scale shape: each leg is one url-keyed partial-combined aggregate
    * (the ledger is consumed TWICE but both passes group on the same
    * key), the unify join is url-keyed equi, and the budget cap is
    * TakeOrderedAndProject — no window, nothing driver-sized. */
  def recrawlDueUnified(history: org.apache.spark.sql.DataFrame,
                        entries: org.apache.spark.sql.DataFrame,
                        nowSec: Long, topN: Int,
                        minIntervalSec: Long = 3600L,
                        maxIntervalSec: Long = 30L * 86400L,
                        urlCol: String = "url", tsCol: String = "fetch_ts_sec",
                        changedCol: String = "changed",
                        entryUrlCol: String = "loc",
                        lastmodCol: String = "lastmod")
      : org.apache.spark.sql.DataFrame = {
    val hist = history.select(canonicalizeUrl(col(urlCol)).as("url"),
      col(tsCol).cast("long").as("fetch_ts_sec"), col(changedCol).as("changed"))
    val observed = recrawlSchedule(hist, nowSec, minIntervalSec, maxIntervalSec)
      .filter(col("due"))
      .select(col("url"), col("overdue_sec").as("_overdue_obs"))
    val declared = sitemapStaleness(entries, hist,
        urlCol = entryUrlCol, lastmodCol = lastmodCol)
      .filter(col("due"))
      .select(col("url"), col("reason").as("_declared_reason"),
        greatest(lit(0L),
          lit(nowSec) - coalesce(col("lastmod_sec"), lit(nowSec)))
          .as("_overdue_dec"))
    observed.join(declared, Seq("url"), "full_outer")
      .select(col("url"),
        col("_overdue_obs").isNotNull.as("due_observed"),
        col("_declared_reason").isNotNull.as("due_declared"),
        array_join(array_compact(array(
          when(col("_overdue_obs").isNotNull, "overdue"),
          when(col("_declared_reason") === "new", "sitemap_new"),
          when(col("_declared_reason") === "updated", "sitemap_updated"))),
          ",").as("reasons"),
        greatest(coalesce(col("_overdue_obs"), lit(0L)),
          coalesce(col("_overdue_dec"), lit(0L))).as("overdue_sec"),
        lit(true).as("due"))
      .transform(s => dueTopN(s, topN))
      .drop("due")
  }
}
