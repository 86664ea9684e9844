package graft.operators

import java.nio.charset.StandardCharsets.{ISO_8859_1, UTF_8}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** WARC (ISO 28500) record reading — the container format web crawls
  * actually ship in (CommonCrawl, Internet Archive). Completes the
  * crawl chain: WARC bytes → records → [[Html]] main-content blocks →
  * the curation tier. JDK-only: WARC is `WARC/1.x` + RFC-822-style
  * headers + `Content-Length` body, and the standard `.warc.gz`
  * framing is one gzip MEMBER per record — `GZIPInputStream` reads
  * concatenated members natively.
  *
  * Only what the extraction chain needs is modeled: per record the
  * WARC-Type, WARC-Target-URI, and — for `response` records — the HTTP
  * status and Content-Type from the embedded HTTP response, plus the
  * payload bytes past the HTTP header block. Malformed records
  * terminate the scan (records already parsed are kept: less data,
  * never an exception), and a missing/overlong Content-Length stops
  * the walk rather than mis-framing every later record.
  *
  * Scale shape: a scalar UDF over one WARC file's bytes (binaryFile
  * scan rows). Per-record gzip members are what make `.warc.gz`
  * SPLITTABLE at the member boundary on a real cluster — a 1 GB WARC
  * would be split by member offsets from the companion CDX index and
  * each split fed through this same per-split kernel; the 100 TB story
  * is the split framing, the parse itself is this forward scan. */
object Warc {

  case class WarcRecord(rec_type: String, url: Option[String],
                        http_status: Option[Int], content_type: Option[String],
                        payload: Array[Byte])

  private def isGzip(b: Array[Byte]) =
    b.length >= 2 && (b(0) & 0xff) == 0x1f && (b(1) & 0xff) == 0x8b

  private def gunzipAll(b: Array[Byte]): Array[Byte] = {
    val in = new java.util.zip.GZIPInputStream(
      new java.io.ByteArrayInputStream(b))
    try in.readAllBytes() finally in.close()
  }

  /** Parse one WARC file (plain or member-gzipped) into records. */
  def parseWarc(bytes: Array[Byte]): Option[Seq[WarcRecord]] =
    try {
      val data = if (isGzip(bytes)) gunzipAll(bytes) else bytes
      val out = scala.collection.mutable.ArrayBuffer[WarcRecord]()
      var i = 0
      val n = data.length
      def lineEnd(from: Int): Int = {
        var k = from
        while (k < n && data(k) != '\n') k += 1
        k
      }
      var ok = true
      while (ok && i < n) {
        // skip inter-record blank lines
        while (i < n && (data(i) == '\r' || data(i) == '\n')) i += 1
        if (i >= n) ok = false
        else {
          val verEnd = lineEnd(i)
          val version = new String(data, i, verEnd - i, ISO_8859_1).trim
          if (!version.startsWith("WARC/")) ok = false
          else {
            i = verEnd + 1
            // WARC header block to the first blank line
            val hdrs = scala.collection.mutable.Map[String, String]()
            var blank = false
            while (!blank && i < n) {
              val e = lineEnd(i)
              val line = new String(data, i, e - i, ISO_8859_1).stripSuffix("\r")
              i = e + 1
              if (line.isEmpty) blank = true
              else {
                val c = line.indexOf(':')
                if (c > 0) hdrs(line.substring(0, c).trim.toLowerCase) =
                  line.substring(c + 1).trim
              }
            }
            val len = hdrs.get("content-length").flatMap(_.toLongOption)
            len match {
              case Some(l) if l >= 0 && i + l <= n =>
                val body = java.util.Arrays.copyOfRange(data, i, i + l.toInt)
                i += l.toInt
                val recType = hdrs.getOrElse("warc-type", "unknown")
                val url = hdrs.get("warc-target-uri")
                val (status, ctype, payload) =
                  if (recType == "response") parseHttp(body)
                  else (None, hdrs.get("content-type"), body)
                out += WarcRecord(recType, url, status, ctype, payload)
              case _ => ok = false // unframeable: keep what we have
            }
          }
        }
      }
      if (out.isEmpty) None else Some(out.toSeq)
    } catch { case scala.util.control.NonFatal(_) => None }

  /** Split an HTTP response block into (status, content-type, payload). */
  private def parseHttp(body: Array[Byte]): (Option[Int], Option[String], Array[Byte]) = {
    val asStr = new String(body, ISO_8859_1)
    // whichever blank line comes FIRST ends the header block: checking
    // CRLF before LF would let a bare-LF header block swallow payload
    // up to the payload's own first CRLF blank line
    val crlf = asStr.indexOf("\r\n\r\n")
    val lf = asStr.indexOf("\n\n")
    val (hdr, payloadStart) =
      if (crlf >= 0 && (lf < 0 || crlf <= lf))
        (asStr.substring(0, crlf), crlf + 4)
      else if (lf >= 0) (asStr.substring(0, lf), lf + 2)
      else (asStr, asStr.length)
    val lines = hdr.split("\r?\n")
    val status = lines.headOption
      .filter(_.startsWith("HTTP/"))
      .flatMap(_.split(" ").lift(1)).flatMap(_.toIntOption)
    val ctype = lines.drop(1).collectFirst {
      case l if l.toLowerCase.startsWith("content-type:") =>
        l.substring("content-type:".length).trim
    }
    (status, ctype, java.util.Arrays.copyOfRange(body, payloadStart, body.length))
  }

  // ---- Spark surface ------------------------------------------------------

  val parseWarcUdf = udf((bytes: Array[Byte]) => parseWarc(bytes))

  /** The WARC fixture corpus as a (warc, content BINARY) frame — the
    * same records plain and member-gzipped. */
  def fixturesDF(spark: org.apache.spark.sql.SparkSession): DataFrame = {
    import spark.implicits._
    DocFixtures.warcAll.toDF("warc", "content")
  }

  /** One row per WARC record: (warc, rec_idx, rec_type, url,
    * http_status, content_type, n_payload_bytes). */
  def warcRecords(files: DataFrame, fileCol: String = "warc",
                  binCol: String = "content"): DataFrame =
    files.select(col(fileCol).as("warc"), posexplode(parseWarcUdf(col(binCol))))
      .select(col("warc"), col("pos").as("rec_idx"),
        col("col.rec_type").as("rec_type"),
        col("col.url").as("url"),
        col("col.http_status").as("http_status"),
        col("col.content_type").as("content_type"),
        length(col("col.payload")).as("n_payload_bytes"))

  /** The crawl extraction chain: response records whose payload is
    * 200/text-html, through [[Html.parseHtml]] — (warc, url, title,
    * block_idx, heading, content, n_chars). One pass, zero shuffle:
    * explode records, filter, explode blocks — all map-side. */
  def warcHtmlBlocks(files: DataFrame, fileCol: String = "warc",
                     binCol: String = "content"): DataFrame =
    files
      .select(col(fileCol).as("warc"), explode(parseWarcUdf(col(binCol))).as("r"))
      .filter(col("r.rec_type") === "response" &&
        col("r.http_status") === 200 &&
        lower(col("r.content_type")).startsWith("text/html")) // RFC 9110: type is case-insensitive
      .select(col("warc"), col("r.url").as("url"),
        Html.parseBlocksUdf(col("r.payload")).as("p"))
      .select(col("warc"), col("url"), col("p.title").as("title"),
        explode(col("p.blocks")).as("b"))
      .select(col("warc"), col("url"), col("title"),
        col("b.block_idx").as("block_idx"),
        col("b.heading").as("heading"),
        col("b.content").as("content"),
        length(col("b.content")).as("n_chars"))

  /** [[warcHtmlBlocks]] + the page's declared `rel=canonical` — the
    * FULL parse (directive capture), because the streamed corpus
    * ledger keys page identity on canonical-url-else-url
    * ([[graft.streaming.StreamingIngest.crawlAppendBatch]]): an
    * amp/mobile twin pair declaring the same canonical must collapse
    * to one corpus row even when the twins arrive in different
    * micro-batches and their texts differ (the duplicate class content
    * dedup cannot see). Extraction-only consumers keep the faster
    * blocks-only [[warcHtmlBlocks]]. */
  def warcHtmlBlocksCanonical(files: DataFrame, fileCol: String = "warc",
                              binCol: String = "content"): DataFrame =
    files
      .select(col(fileCol).as("warc"), explode(parseWarcUdf(col(binCol))).as("r"))
      .filter(col("r.rec_type") === "response" &&
        col("r.http_status") === 200 &&
        lower(col("r.content_type")).startsWith("text/html"))
      .select(col("warc"), col("r.url").as("url"),
        Html.parseHtmlUdf(col("r.payload")).as("p"))
      .select(col("warc"), col("url"), col("p.title").as("title"),
        col("p.canonical").as("canonical"), explode(col("p.blocks")).as("b"))
      .select(col("warc"), col("url"), col("title"), col("canonical"),
        col("b.block_idx").as("block_idx"),
        col("b.heading").as("heading"),
        col("b.content").as("content"),
        length(col("b.content")).as("n_chars"))

  // ---- WARC WRITING (the archive sink) --------------------------------

  /** Build one ISO 28500 WARC shard from `(url, content_type, payload)`
    * response records — the SINK side of the container (production
    * crawlers persist fetched pages as WARC before extraction; this
    * closes the fetch → archive → extract loop). Framing matches what
    * [[parseWarc]] reads back byte-exactly: `WARC/1.0` + headers +
    * `Content-Length` over the embedded HTTP block, CRLF CRLF
    * separators, two CRLFs between records. Fully deterministic: the
    * record id is the payload's own digest (`urn:sha256:…` — also the
    * natural dedup key an archive wants) and `WARC-Date` is the fixed
    * `warcDate` parameter, never a wall clock. */
  private[graft] def buildWarc(records: Iterator[(String, String, Array[Byte])],
                               warcDate: String,
                               gzipMembers: Boolean = false): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(1 << 16)
    records.foreach { case (url, contentType, payload) =>
      writeWarcMember(out, url, contentType, payload, warcDate, gzipMembers)
    }
    out.toByteArray
  }

  /** Per-thread reusable digest: `MessageDigest.getInstance` does a
    * provider lookup + allocation — per RECORD that was ~30% of the
    * write path on small pages (WarcWriteDrill); `reset()` between
    * records is the documented reuse contract. */
  private val sha256Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("SHA-256")
  }

  private val HexDigits = "0123456789abcdef".toCharArray

  private def hex(bytes: Array[Byte]): String = {
    val out = new Array[Char](bytes.length * 2)
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i) & 0xff
      out(i * 2) = HexDigits(b >>> 4)
      out(i * 2 + 1) = HexDigits(b & 0xf)
      i += 1
    }
    new String(out)
  }

  /** Write ONE record (for gz framing: one complete gzip member)
    * directly into `out` — the streaming kernel [[buildWarc]] and
    * [[toWarcShards]] share, so a shard never holds per-record copies
    * alongside the shard buffer. Returns the member's SHA-256 payload
    * digest (the CDX column; also the record id). */
  private def writeWarcMember(out: java.io.OutputStream, url: String,
                              contentType: String, payload: Array[Byte],
                              warcDate: String, gzipMembers: Boolean): String = {
    val ct = Option(contentType).filter(_.nonEmpty).getOrElse("application/octet-stream")
    val http = (s"HTTP/1.1 200 OK\r\nContent-Type: $ct\r\n\r\n").getBytes(ISO_8859_1)
    val md = sha256Local.get()
    md.reset()
    val digest = hex(md.digest(payload))
    val hdr = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
      s"WARC-Target-URI: $url\r\n" +
      s"WARC-Date: $warcDate\r\n" +
      s"WARC-Record-ID: <urn:sha256:$digest>\r\n" +
      s"Content-Length: ${http.length + payload.length}\r\n\r\n").getBytes(ISO_8859_1)
    // the CommonCrawl .warc.gz framing: each record its own gzip
    // MEMBER, so a cluster splits the file at member offsets
    val sink: java.io.OutputStream =
      if (gzipMembers) new java.util.zip.GZIPOutputStream(out) else out
    sink.write(hdr); sink.write(http); sink.write(payload)
    sink.write("\r\n\r\n".getBytes(ISO_8859_1))
    // close(), not finish(): only close releases the native Deflater
    // (a per-record leak at archive scale otherwise); closing the
    // wrapper is safe — ByteArrayOutputStream.close is a no-op
    sink match { case g: java.util.zip.GZIPOutputStream => g.close(); case _ => () }
    digest
  }

  /** One CDX member entry: where `url`'s record lives inside its
    * shard — `[offset, offset+length)` is a SELF-CONTAINED slice (for
    * gz framing, one complete gzip member) that parses standalone.
    * This is what makes a 100 TB WARC corpus splittable: a cluster
    * reads the CDX, assigns member ranges to tasks, and each task
    * decodes only its slice. */
  case class CdxEntry(url: String, offset: Long, length: Long,
                      payload_sha: String)

  /** Archive a fetched-pages frame as WARC shards: one `(warc, content,
    * cdx)` row per shard key, records sorted by url within the shard
    * (the deterministic layout a replayed job reproduces
    * byte-for-byte), `cdx` carrying each member's offset/length/digest.
    * Scale shape: ONE hash shuffle on the shard key, then each shard
    * builds independently in its group — shard count is the
    * parallelism knob, exactly how production crawlers size WARC files
    * (~1 GB each). */
  /** Hard ceiling on one shard's byte size: the shard row carries the
    * full archive as one BINARY value, whose JVM `Array[Byte]` (and
    * Parquet page) tops out at 2 GB — fail with an actionable message
    * well before the buffer's own overflow would. Production sizing is
    * ~1 GB/shard anyway; the fix is always a larger `nShards`. */
  private val MaxShardBytes = 1800000000L

  /** Write ONE WET `conversion` member — the extracted-TEXT sibling of
    * [[writeWarcMember]] (ISO 28500 §6.8 conversion records;
    * CommonCrawl ships them as `.wet` files next to every crawl): no
    * HTTP envelope, `Content-Type: text/plain` at the WARC level,
    * payload = the UTF-8 text bytes. Same digest/record-id/gz-member
    * contract as the response writer. */
  private def writeWetMember(out: java.io.OutputStream, url: String,
                             text: Array[Byte], warcDate: String,
                             gzipMembers: Boolean): String = {
    val md = sha256Local.get()
    md.reset()
    val digest = hex(md.digest(text))
    val hdr = (s"WARC/1.0\r\nWARC-Type: conversion\r\n" +
      s"WARC-Target-URI: $url\r\n" +
      s"WARC-Date: $warcDate\r\n" +
      s"WARC-Record-ID: <urn:sha256:$digest>\r\n" +
      s"Content-Type: text/plain\r\n" +
      s"Content-Length: ${text.length}\r\n\r\n").getBytes(ISO_8859_1)
    val sink: java.io.OutputStream =
      if (gzipMembers) new java.util.zip.GZIPOutputStream(out) else out
    sink.write(hdr); sink.write(text)
    sink.write("\r\n\r\n".getBytes(ISO_8859_1))
    sink match { case g: java.util.zip.GZIPOutputStream => g.close(); case _ => () }
    digest
  }

  /** Archive an extracted-text corpus as WET shards — the `.wet`
    * counterpart of [[toWarcShards]] (what a training pipeline
    * actually reads back: CommonCrawl consumers overwhelmingly start
    * from WET, not the raw WARC). Same one-shuffle shard shape, same
    * url-sorted deterministic layout, same per-member CDX so a 100 TB
    * WET corpus splits at member offsets. */
  def toWetShards(pages: DataFrame, nShards: Int,
                  urlCol: String = "url", textCol: String = "text",
                  warcDate: String = "2026-01-01T00:00:00Z",
                  gzipMembers: Boolean = false): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(pmod(hash(col(urlCol)), lit(nShards)).as("shard"),
        col(urlCol).as("url"), col(textCol).as("text"))
      .as[(Int, String, String)]
      .groupByKey(_._1)
      .flatMapSortedGroups($"url") { (shard, rows) =>
        val out = new java.io.ByteArrayOutputStream(1 << 16)
        val cdx = Seq.newBuilder[CdxEntry]
        rows.foreach { case (_, url, text) =>
          val offset = out.size().toLong
          val digest = writeWetMember(out,
            url, Option(text).getOrElse("").getBytes(UTF_8), warcDate, gzipMembers)
          if (out.size() > MaxShardBytes)
            throw new IllegalStateException(
              s"wet_shard_too_large: shard $shard exceeds $MaxShardBytes bytes " +
                s"after $url — increase nShards")
          cdx += CdxEntry(url, offset, out.size() - offset, digest)
        }
        Iterator((s"shard-$shard" + (if (gzipMembers) ".warc.wet.gz" else ".warc.wet"),
          out.toByteArray, cdx.result()))
      }
      .toDF("wet", "content", "cdx")
  }

  def toWarcShards(pages: DataFrame, nShards: Int,
                   urlCol: String = "url", ctCol: String = "content_type",
                   binCol: String = "content",
                   warcDate: String = "2026-01-01T00:00:00Z",
                   gzipMembers: Boolean = false): DataFrame = {
    val spark = pages.sparkSession
    import spark.implicits._
    pages.select(pmod(hash(col(urlCol)), lit(nShards)).as("shard"),
        col(urlCol).as("url"), col(ctCol).as("ct"), col(binCol).as("payload"))
      .as[(Int, String, String, Array[Byte])]
      .groupByKey(_._1)
      // sort-merge group iteration (no rows.toSeq) + members written
      // straight into the one shard buffer (no per-record member copy):
      // peak task memory is the shard itself, not 3x the shard
      .flatMapSortedGroups($"url") { (shard, rows) =>
        val out = new java.io.ByteArrayOutputStream(1 << 16)
        val cdx = Seq.newBuilder[CdxEntry]
        rows.foreach { case (_, url, ct, payload) =>
          val offset = out.size().toLong
          val digest = writeWarcMember(out, url, ct, payload, warcDate, gzipMembers)
          if (out.size() > MaxShardBytes)
            throw new IllegalStateException(
              s"warc_shard_too_large: shard $shard exceeds $MaxShardBytes bytes " +
                s"after $url — increase nShards")
          cdx += CdxEntry(url, offset, out.size() - offset, digest)
        }
        Iterator((s"shard-$shard" + (if (gzipMembers) ".warc.gz" else ".warc"),
          out.toByteArray, cdx.result()))
      }
      .toDF("warc", "content", "cdx")
  }
}
