package graft.functions

import java.util.regex.Pattern

import org.apache.spark.unsafe.types.UTF8String

/** Native one-pass kernels for the crawl tier's per-URL functions
  * (`graft.operators.UrlOps.canonicalizeUrl` / `resolveUrl` /
  * `robotsAllowed`) — the GopherCounts treatment applied to URL
  * metadata.
  *
  * Why: the column formulations compile to large Catalyst trees (the
  * canonicalizer alone is ~8 regexp nodes plus a higher-order
  * filter/sort; the robots matcher is a when-chain per rule), and the
  * crawl flagship's drill attributes ~35% of each evaluation to
  * driver-side Catalyst work on exactly these shapes (SCALING.md r17).
  * Each kernel is ONE static call ([[Kernel]]) with a flat char-scan
  * JVM body —
  * the plan shrinks by two orders of magnitude on the discover leg,
  * analysis/optimization cost drops with it, and the per-row work
  * stays inside whole-stage codegen.
  *
  * Count-identical contract: every kernel is fuzz-pinned slot-for-slot
  * against the original column formulation (UrlKernelsSpec), including
  * the formulations' Java-regex corner semantics (`$` also matching
  * before a final line terminator; `regexp_extract` returning `""` on
  * no-match; `array_sort`'s code-point string order). The DuckDB
  * oracles replay the regex formulations independently, so parity here
  * is what keeps every crawl oracle green unchanged. */
object UrlKernels {

  /** The tracking-param filter, applied with Java `find` semantics
    * exactly like Column.rlike. */
  private val Track = Pattern.compile(graft.operators.UrlOps.trackingRe)

  /** Spark's `lower()`: UTF8String.toLowerCase (ASCII fast path, JVM
    * default-locale slow path) — byte-identical to the column form. */
  private def sparkLower(s: String): String =
    UTF8String.fromString(s).toLowerCase.toString

  @inline private def isAlpha(c: Char): Boolean =
    (c >= 'A' && c <= 'Z') || (c >= 'a' && c <= 'z')
  @inline private def isSchemeChar(c: Char): Boolean =
    isAlpha(c) || (c >= '0' && c <= '9') || c == '+' || c == '.' || c == '-'

  /** Java-regex line terminators — what a non-MULTILINE `$` may sit
    * before at end of input. */
  @inline private def isLineTerm(c: Char): Boolean =
    c == '\n' || c == '\r' || c == '\u0085' || c == '\u2028' || c == '\u2029'

  /** Length of the final line terminator of `s` (2 for `\r\n`, 1 for a
    * single terminator char, else 0). */
  private def finalTermLen(s: String): Int = {
    val n = s.length
    if (n == 0) 0
    else if (n >= 2 && s.charAt(n - 2) == '\r' && s.charAt(n - 1) == '\n') 2
    else if (isLineTerm(s.charAt(n - 1))) 1
    else 0
  }

  /** `^[A-Za-z][A-Za-z0-9+.-]*://` — scheme length, or -1. */
  private def schemeSlashSlash(s: String): Int = {
    if (s.isEmpty || !isAlpha(s.charAt(0))) return -1
    var i = 1
    while (i < s.length && isSchemeChar(s.charAt(i))) i += 1
    if (s.startsWith("://", i)) i else -1
  }

  /** `^[A-Za-z][A-Za-z0-9+.-]*:` — does href carry ANY scheme? */
  private def hasSchemePrefix(s: String): Boolean = {
    if (s.isEmpty || !isAlpha(s.charAt(0))) return false
    var i = 1
    while (i < s.length && isSchemeChar(s.charAt(i))) i += 1
    i < s.length && s.charAt(i) == ':'
  }

  /** Code-point string order == UTF-8 byte order == what `array_sort`
    * applies to UTF8String elements. */
  private[functions] def cpCompare(a: String, b: String): Int = {
    var i = 0
    var j = 0
    while (i < a.length && j < b.length) {
      val ca = a.codePointAt(i)
      val cb = b.codePointAt(j)
      if (ca != cb) return Integer.compare(ca, cb)
      i += Character.charCount(ca)
      j += Character.charCount(cb)
    }
    Integer.compare(a.length - i, b.length - j)
  }

  private val CpOrder = new java.util.Comparator[String] {
    override def compare(a: String, b: String): Int = cpCompare(a, b)
  }

  /** rlike(^...$) with Java `find` — a single `find` on the ORIGINAL
    * string IS the column form's semantics (`$` already matches before
    * one final line terminator; stripping-and-retrying would ADD
    * matches rlike rejects, e.g. a param with TWO trailing newlines). */
  private def isTrackingParam(p: String): Boolean = Track.matcher(p).find()

  /** The canonicalizer scan — RFC 3986 §6 normalization, identical to
    * the UrlOps column formulation (see its scaladoc for the rule
    * list). Non-absolute input (no `scheme://`) passes through
    * untouched, including its fragment. */
  /** Does `base[0, e)` end with `suffix` (the `X$` regex test where
    * `$` may sit before one final line terminator at `e`)? */
  @inline private def endsWithAt(base: String, suffix: String, e: Int): Boolean =
    e >= suffix.length && base.regionMatches(e - suffix.length, suffix, 0, suffix.length)

  def canonicalize(url: UTF8String): UTF8String = {
    val full = url.toString
    // `regexp_replace(url, "#.*$", "")`: `.` excludes line terminators
    // and `$` sits at the end or before ONE final terminator, so the
    // match starts at the first '#' with no terminator between it and
    // that position and removes ONLY [hash, e) — a final terminator
    // SURVIVES fragment removal, and a '#' separated from the end by
    // an interior newline is not removed at all (it then stays a
    // delimiter for the extractions below, which all exclude '#').
    val fullE = full.length - finalTermLen(full)
    var lastTerm = -1
    var k = 0
    while (k < fullE) { if (isLineTerm(full.charAt(k))) lastTerm = k; k += 1 }
    val hashPos = {
      val h = full.indexOf('#', lastTerm + 1)
      if (h >= 0 && h < fullE) h else -1
    }
    val s =
      if (hashPos >= 0) full.substring(0, hashPos) + full.substring(fullE) else full
    val schemeLen = schemeSlashSlash(s)
    if (schemeLen < 0) return url
    val scheme = sparkLower(s.substring(0, schemeLen))
    val authStart = schemeLen + 3
    var authEnd = authStart
    while (authEnd < s.length && {
        val c = s.charAt(authEnd); c != '/' && c != '?' && c != '#' }) authEnd += 1
    val authority = s.substring(authStart, authEnd)
    // query: `\?([^#]*)` over noFrag — first '?', up to the next '#'
    val query = {
      val q = s.indexOf('?')
      if (q < 0) ""
      else {
        val h2 = s.indexOf('#', q + 1)
        if (h2 >= 0) s.substring(q + 1, h2) else s.substring(q + 1)
      }
    }
    var host = ""
    var path = ""
    if (authority.nonEmpty) {
      // userinfo splits at the FIRST '@' and keeps its case (RFC 3986
      // §6.2.2.1 lowercases only scheme and host)
      val at = authority.indexOf('@')
      val userinfo = if (at >= 0) authority.substring(0, at + 1) else ""
      var hostPort = sparkLower(if (at >= 0) authority.substring(at + 1) else authority)
      // `:80$`/`:443$` — the `$` may sit before a final line terminator
      val he = hostPort.length - finalTermLen(hostPort)
      if (scheme == "http" && endsWithAt(hostPort, ":80", he))
        hostPort = hostPort.substring(0, he - 3) + hostPort.substring(he)
      else if (scheme == "https" && endsWithAt(hostPort, ":443", he))
        hostPort = hostPort.substring(0, he - 4) + hostPort.substring(he)
      host = userinfo + hostPort
      // rawPath: `([^?#]*)` after the authority — stops at '?' OR '#'
      var pEnd = authEnd
      while (pEnd < s.length && {
          val c = s.charAt(pEnd); c != '?' && c != '#' }) pEnd += 1
      var rawPath = s.substring(authEnd, pEnd)
      // `(.)/$` — strip one non-root trailing slash; the `$` may sit
      // before a final line terminator, and `(.)` must NOT be one
      val t = finalTermLen(rawPath)
      val e = rawPath.length - t
      if (e >= 2 && rawPath.charAt(e - 1) == '/' && !isLineTerm(rawPath.charAt(e - 2)))
        rawPath = rawPath.substring(0, e - 1) + rawPath.substring(e)
      path = rawPath
    }
    // params: split('&', limit -1), drop empties and tracking names,
    // sort code-point-wise, rejoin
    val sb = new java.lang.StringBuilder(full.length + 4)
    sb.append(scheme).append("://").append(host)
    sb.append(if (path.isEmpty) "/" else path)
    if (query.nonEmpty) {
      val parts = query.split("&", -1)
      var n = 0
      var i = 0
      while (i < parts.length) {
        val p = parts(i)
        if (p.nonEmpty && !isTrackingParam(p)) { parts(n) = p; n += 1 }
        i += 1
      }
      if (n > 0) {
        java.util.Arrays.sort(parts, 0, n, CpOrder)
        sb.append('?')
        i = 0
        while (i < n) { if (i > 0) sb.append('&'); sb.append(parts(i)); i += 1 }
      }
    }
    UTF8String.fromString(sb.toString)
  }

  /** The lowercased host of an absolute URL, userinfo and port
    * excluded; `""` for non-absolute input. The scan replaces the column
    * form `lower(regexp_extract(url, "^[^:/?#]+://(?:[^/?#@]*@)?([^/?#:]+)", 1))`:
    * anchored `scheme://`, optional greedy userinfo-to-first-`@`, then
    * the host run over `[^/?#:]` — including the regex's BACKTRACKING
    * corner: when the userinfo group consumes up to an `@` but the host
    * class then fails (e.g. `http://user@:80/`), the regex retries
    * WITHOUT the group and the `user@` run itself becomes the host. */
  def host(url: UTF8String): UTF8String = {
    val s = url.toString
    // `^[^:/?#]+://` — at least one non-special char, then "://"
    var i = 0
    while (i < s.length && {
        val c = s.charAt(i); c != ':' && c != '/' && c != '?' && c != '#' }) i += 1
    if (i == 0 || !s.startsWith("://", i)) return UTF8String.EMPTY_UTF8
    val start = i + 3
    @inline def hostRun(from: Int): String = {
      var k = from
      while (k < s.length && {
          val c = s.charAt(k); c != '/' && c != '?' && c != '#' && c != ':' }) k += 1
      s.substring(from, k)
    }
    // optional userinfo: `[^/?#@]*@` — the run to the FIRST '@' (if one
    // comes before any of /?#)
    var j = start
    while (j < s.length && {
        val c = s.charAt(j); c != '/' && c != '?' && c != '#' && c != '@' }) j += 1
    val withUser =
      if (j < s.length && s.charAt(j) == '@') hostRun(j + 1) else ""
    val h =
      if (withUser.nonEmpty) withUser
      else hostRun(start) // backtrack: no (usable) userinfo group
    if (h.isEmpty) UTF8String.EMPTY_UTF8
    else UTF8String.fromString(sparkLower(h))
  }

  /** RFC 3986 §5 resolution, identical to the UrlOps column
    * formulation (see its scaladoc for the case list and the
    * documented dot-segment subset). A null href is null. `base` may
    * be null: an href carrying its own scheme still resolves (to
    * itself); every other case yields null — exactly the column form's
    * null algebra. */
  def resolve(base: UTF8String, href: UTF8String): UTF8String = {
    if (href == null) return null
    val h = href.toString
    if (hasSchemePrefix(h)) return href
    if (base == null) return null
    val b = base.toString
    // scheme: ^([A-Za-z][A-Za-z0-9+.-]*):  (bare colon — no // needed)
    var scheme = ""
    if (b.nonEmpty && isAlpha(b.charAt(0))) {
      var i = 1
      while (i < b.length && isSchemeChar(b.charAt(i))) i += 1
      if (i < b.length && b.charAt(i) == ':') scheme = b.substring(0, i)
    }
    // origin: ^([^:/?#]+://[^/?#]+); basePath: its ([^?#]*) suffix
    var origin = ""
    var basePath = ""
    var i = 0
    while (i < b.length && {
        val c = b.charAt(i); c != ':' && c != '/' && c != '?' && c != '#' }) i += 1
    if (i > 0 && b.startsWith("://", i)) {
      val hostStart = i + 3
      var j = hostStart
      while (j < b.length && {
          val c = b.charAt(j); c != '/' && c != '?' && c != '#' }) j += 1
      if (j > hostStart) {
        origin = b.substring(0, j)
        var k = j
        while (k < b.length && b.charAt(k) != '?' && b.charAt(k) != '#') k += 1
        basePath = b.substring(j, k)
      }
    }
    if (h.startsWith("//")) return UTF8String.fromString(scheme + ":" + h)
    if (h.startsWith("/")) return UTF8String.fromString(origin + h)
    if (h.isEmpty || h.charAt(0) == '#') return base
    if (h.charAt(0) == '?')
      return UTF8String.fromString(
        origin + (if (basePath.isEmpty) "/" else basePath) + h)
    val li = basePath.lastIndexOf('/')
    val baseDir = if (li >= 0) basePath.substring(0, li + 1) else "/"
    UTF8String.fromString(origin + baseDir + h)
  }
}

/** The RFC 9309 §2.2.2 longest-match evaluator over ONE parsed
  * per-host rule set, precompiled once at plan time: wildcard-free
  * patterns keep a raw `startsWith`, wildcard/`$` patterns compile to
  * the RFC regex. Rule sets are per-host tiny (they ride the plan, not
  * the data), but the PATH column is corpus-sized — this turns the
  * per-rule when-chain (4 Catalyst nodes per rule, quadratic fold
  * nesting) into one call of [[allowed]] with a flat loop. A null path
  * is ALLOWED — the when-chain's fold-over-null algebra, pinned in the
  * spec. */
final class RobotsMatcher(rules: Array[(Boolean, String)],
                          regexOf: String => String) extends Serializable {
  private val allows: Array[Boolean] = rules.map(_._1)
  private val lens: Array[Int] = rules.map(_._2.length)
  private val prefixes: Array[String] =
    rules.map { case (_, p) => if (p.contains('*') || p.endsWith("$")) null else p }
  // Pattern is not Serializable — compile lazily on each deserialized copy
  @transient private lazy val regexes: Array[Pattern] =
    rules.map { case (_, p) =>
      if (p.contains('*') || p.endsWith("$")) Pattern.compile(regexOf(p)) else null
    }

  def allowed(path: UTF8String): Boolean = {
    if (path == null) return true
    val s = path.toString
    var bestLen = -1
    var bestAllow = true
    var i = 0
    while (i < allows.length) {
      val hit =
        if (prefixes(i) != null) s.startsWith(prefixes(i))
        else regexes(i).matcher(s).find()
      val len = if (hit) lens(i) else -1
      if (len > bestLen || (len == bestLen && allows(i) && !bestAllow)) {
        bestLen = len
        bestAllow = allows(i)
      }
      i += 1
    }
    bestAllow
  }
}
