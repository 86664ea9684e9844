package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.operators._

/** Document/crawl tier (SURVEY §2.1-2.2): validation + ingest, multimodal decode, binary document extraction (PDF/DOCX/EML/OCR), and the WARC→HTML crawl chain.
  * One `queries` entry per operator with its DuckDB oracle twin;
  * composed into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]]. */
private[graft] trait EntryDocs extends EntryShared {

  /** Deterministic multi-cycle fetch history for the recrawl-policy
    * queries: url per document, 1 + doc_id%4 fetches at 1000 s ticks,
    * the fetch at `cycle` observed a change iff (doc_id+cycle)%3 == 0 —
    * a mix of hot, lukewarm and static pages the oracle re-derives
    * independently. */
  private def recrawlHistory(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d).select(col("doc_id"))
      .withColumn("url", concat(lit("http://h"), (col("doc_id") % 5).cast("string"),
        lit(".example.com/p"), col("doc_id").cast("string")))
      .withColumn("cycle",
        explode(sequence(lit(1L), lit(1L) + col("doc_id") % 4L)))
      .select(col("url"), (col("cycle") * 1000L).as("fetch_ts_sec"),
        ((col("doc_id") + col("cycle")) % 3L === 0L).as("changed"))

  protected def docsQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "mime_sniff" -> ((s, d) =>
      Validation.mimeFixturesDF(s).select(col("name"), Validation.sniffMime(col("head")).as("mime"))),
    "validate_docs" -> ((s, d) =>
      Validation.validate(Tables.documents(s, d), maxChars = 500,
        langWhitelist = Seq("en", "de", "fr", "es"))
        .select("doc_id", "errors", "is_valid")),
    // E6/A5 — usage counters ride the validation job via Dataset.observe
    // (no second aggregation pass over the corpus); the harvested metrics
    // project to the reference's 1-row usage-stats shape,
    "usage_counters" -> ((s, d) => {
      import s.implicits._
      val obs = org.apache.spark.sql.Observation()
      val counted = Validation.withUsageCounters(
        Validation.validate(Tables.documents(s, d), maxChars = 500,
          langWhitelist = Seq("en", "de", "fr", "es")), obs)
      counted.foreach(_ => ()) // the one action the metrics ride
      val m = obs.get
      Seq((m("total").asInstanceOf[Long], m("valid").asInstanceOf[Long],
        m("chars_processed").asInstanceOf[Long]))
        .toDF("total", "valid", "chars_processed")
    }),
    // S13 — table create/overwrite init (the reference's
    // create-index-with-delete_if_exists): two writes to one location,
    // the read-back must contain ONLY the second write's rows,
    "index_init" -> ((s, d) => {
      import s.implicits._
      Tables.overwrite(Seq((0L, "stale")).toDF("id", "payload"), indexInitDir)
      Tables.overwrite(Seq((1L, "alpha"), (2L, "beta"), (3L, "gamma"))
        .toDF("id", "payload"), indexInitDir)
      s.read.parquet(indexInitDir)
    }),
    "ingest_dedup" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Validation.newDocsOnly(docs.filter(col("doc_id") % 2 === 1), docs.filter(col("doc_id") % 2 === 0))
        .select("doc_id", "fp")
    }),
    // S1: url-list ingestion over the offline file:// transport — retry
    // metadata, 50MB cap, sha256 + cache naming, layered MIME, type
    // validation; one URL 404s (3 attempts), one wears a lying extension,
    "ingest_urls" -> ((s, d) => {
      import s.implicits._
      val dir = UrlIngest.stageQueryFixtures()
      val urls = Seq(
        s"file://$dir/simple.eml", s"file://$dir/multi.eml",
        s"file://$dir/notes.txt", s"file://$dir/report.pdf",
        s"file://$dir/missing.docx").toDF("url")
      UrlIngest.ingest(urls)
    }),
    // S1 over the REAL http:// transport (loopback fixture server):
    // /flaky/notes.txt eats a genuine 503 + backoff + retry (attempts=2),
    // missing.docx 404s through all 3 attempts. url/cache_name embed the
    // server's ephemeral port, so the compared surface is the path — the
    // port-independent half; naming semantics are ingest_urls' check,
    "ingest_http" -> ((s, d) => {
      import s.implicits._
      val base = s"http://127.0.0.1:${UrlIngest.fixtureServerPort}"
      val urls = Seq(s"$base/simple.eml", s"$base/multi.eml", s"$base/notes.txt",
        s"$base/report.pdf", s"$base/flaky/notes.txt", s"$base/missing.docx").toDF("url")
      UrlIngest.ingest(urls, backoffMs = 1)
        .withColumn("path", regexp_replace(col("url"), "^http://[^/]+", ""))
        .select("path", "file_size", "mime_type", "file_hash", "attempts",
          "is_valid", "errors")
    }),

    // --- events / index maintenance (SURVEY §2.1, §2.10) ---------------,
    "mm_image_stats" -> ((s, d) =>
      MediaCodec.imageStats(MediaCodec.fixturesDF(s)).toDF()),
    "mm_image_resize" -> ((s, d) =>
      MediaCodec.imageResize(MediaCodec.fixturesDF(s), maxSide = 32).toDF()),
    "mm_wav_stats" -> ((s, d) =>
      MediaCodec.wavStats(MediaCodec.fixturesDF(s)).toDF()),
    // real video decode: the uncompressed-AVI RIFF walk + per-frame
    // pixel stats, sampling every 5th frame (the frameSample contract
    // over real pixels),
    "mm_video_frames" -> ((s, d) =>
      MediaCodec.aviFrames(MediaCodec.fixturesDF(s), step = 5).toDF()),
    // compressed-video decode: MJPG AVI through the same container walk,
    // each sampled frame JPEG-decoded with ImageIO; oracle VALUES derived
    // by decoding the fixture's frame bytes directly (independent pixel
    // walk — the container walk, sampling, and stream clock are what the
    // compare actually validates; the JPEG codec is the JDK's only one),
    "mm_video_mjpg" -> ((s, d) =>
      MediaCodec.aviFrames(MediaCodec.mjpgFixturesDF(s), step = 5).toDF()),
    // the multimodal→similarity bridge: integer histogram emitted for
    // the exact compare; the normalized ARRAY<FLOAT> feeds retrieval,
    "mm_image_embed" -> ((s, d) =>
      MediaCodec.imageEmbedding(MediaCodec.fixturesDF(s)).toDF()
        .select(col("doc"), col("n_pixels"), to_json(col("hist")).as("hist_json"))),
    // perceptual image dedup: dHash (9x8 luma gradient bits, codec- and
    // brightness-invariant) + Hamming-banded near-dup pairs — the
    // poster/photo codec twins (same pixels, BMP vs PNG) MUST collapse
    // to the one hamming-0 pair; oracle hashes derived independently
    // from the fixture pixel formula,
    "mm_image_dhash" -> ((s, d) =>
      MediaCodec.imageDHash(MediaCodec.dhashFixturesDF(s)).toDF()),
    "mm_image_neardup" -> ((s, d) =>
      MediaCodec.imageNearDups(MediaCodec.dhashFixturesDF(s))),
    // per-frame video dHash + trimmed-copy detection: clip2 is clip's
    // first 8 frames — containment n_shared/min(n_a,n_b) = 8/8; short
    // shares nothing. Oracle hashes from the frame pixel formula,
    "mm_video_dhash" -> ((s, d) =>
      MediaCodec.aviFrameDHash(MediaCodec.dhashFixturesDF(s)).toDF()),
    "mm_video_shared" -> ((s, d) =>
      MediaCodec.videoSharedFrames(MediaCodec.dhashFixturesDF(s))),
    // volume-invariant audio fingerprint (energy-delta signs): the
    // half-volume beep_soft twin fingerprints identically to beep,
    "mm_audio_fp" -> ((s, d) =>
      MediaCodec.wavFingerprint(MediaCodec.dhashFixturesDF(s)).toDF()),
    "mm_audio_neardup" -> ((s, d) =>
      MediaCodec.audioNearDups(MediaCodec.dhashFixturesDF(s))),
    // the CAPPED perceptual pair joins over the hostile degenerate-
    // bucket fixture (5 identical spacers / a black frame shared by
    // all 4 videos / 4 silent audios — the web-scale classes that make
    // an uncapped self-join O(n²)): cap=2 keeps only the 2 smallest
    // docs per bucket as pair sources (the simhashPairsCapped keeper
    // rule), every over-cap member still resolves to SOME keeper, and
    // the legitimate twins (photo/poster, beep/beep_soft) keep pairing,
    "mm_image_neardup_capped" -> ((s, d) =>
      MediaCodec.imageNearDupsCapped(MediaCodec.hostileDedupFixturesDF(s), cap = 2)),
    "mm_video_shared_capped" -> ((s, d) =>
      MediaCodec.videoSharedFramesCapped(MediaCodec.hostileDedupFixturesDF(s), cap = 2)),
    "mm_audio_neardup_capped" -> ((s, d) =>
      MediaCodec.audioNearDupsCapped(MediaCodec.hostileDedupFixturesDF(s), cap = 2)),
    "mm_decode_meta" -> ((s, d) =>
      Multimodal.decodeMeta(Multimodal.binaryDocs(Tables.documents(s, d)))),
    "mm_frame_sample" -> ((s, d) =>
      Multimodal.frameSample(
        Multimodal.decodeMeta(Multimodal.binaryDocs(Tables.documents(s, d))), step = 10)),
    "mm_resize" -> ((s, d) =>
      Multimodal.resizeMeta(
        Multimodal.decodeMeta(Multimodal.binaryDocs(Tables.documents(s, d))), maxSide = 224)
        .select("doc_id", "width", "height", "out_width", "out_height", "scaled")),

    // S6-lite: real decode → layout discovery → template recognition
    // over rendered page scans (tesseract's contract, in-repo kernel),
    "ocr_extract" -> ((s, d) => Ocr.ocrLines(Ocr.fixturesDF(s)).toDF()),

    // --- binary document extraction (SURVEY §2.1 S4/S8/S9/S10) --------,
    // markdown extraction (beyond-reference: the code-adjacent corpus
    // format) — headings/paras/lists/quotes/fenced code through the
    // single-line-scan extractor; inline links/images/code/emphasis
    // clean everywhere EXCEPT code, which stays verbatim,
    "md_extract" -> ((s, d) => {
      import s.implicits._
      val md = Seq(
        "# Title *One*",
        "",
        "Intro paragraph with [a link](http://x) and `code span`",
        "continuing on a second line.",
        "",
        "## Usage ##",
        "",
        "- item **bold**",
        "- another [ref](u)",
        "1. first",
        "2) second",
        "",
        "> quoted line",
        "> continues here",
        "",
        "```scala",
        "val x = 1 // code **stays** [raw](u)",
        "```",
        "",
        "Tail para.").mkString("\n")
      operators.Markdown.markdownBlocks(Seq(("readme", md)).toDF("doc", "text"))
    }),
    // ...and the sections view over the same document (the C1-splitter
    // shape for markdown: blocks grouped under their most recent
    // heading, preamble-before-any-heading as section 0),
    "md_sections" -> ((s, d) => {
      import s.implicits._
      val md = Seq(
        "preamble before any heading",
        "",
        "# Title *One*",
        "",
        "Intro paragraph with [a link](http://x) and `code span`",
        "continuing on a second line.",
        "",
        "## Usage ##",
        "",
        "- item **bold**",
        "",
        "```scala",
        "val x = 1",
        "```").mkString("\n")
      operators.Markdown.markdownSections(Seq(("readme", md)).toDF("doc", "text"))
    }),
    "docx_extract" -> ((s, d) =>
      DocExtract.docxChunks(DocExtract.fixturesDF(s).filter(col("fmt") === "docx"))),
    "eml_extract" -> ((s, d) =>
      DocExtract.emlChunksDF(DocExtract.fixturesDF(s).filter(col("fmt") === "eml"))),
    "pdf_pages" -> ((s, d) =>
      DocExtract.pdfPages(DocExtract.fixturesDF(s).filter(col("fmt") === "pdf"))),
    // the PDF 1.5+ shape (the dominant modern layout PyMuPDF reads
    // transparently, document_processing_service.py:156-185): xref
    // STREAM (FlateDecode + PNG Up predictor), catalog/pages/page dicts
    // compressed in an OBJECT stream, indirect /Length, and a
    // /Contents ARRAY on page 2 — all through the xref-driven reader,
    "pdf_pages_xrefstream" -> ((s, d) =>
      DocExtract.pdfPages(DocExtract.xrefFixturesDF(s))),
    // S4, composite-font tier: every show-string code in this fixture is
    // an arbitrary 2-byte value — text comes back ONLY through the
    // font's ToUnicode CMap (bfchar + both bfrange forms, ligature
    // multi-char destination, page-tree-inherited /Resources),
    "pdf_pages_cid" -> ((s, d) =>
      DocExtract.pdfPages(DocExtract.cidFixturesDF(s))),
    // web-corpus extraction: HTML main-content blocks after the
    // documented boilerplate heuristics (chrome tags, link density,
    // length floor) — nav/footer/related-links/script/style must drop,
    // entities decode, binary garbage yields no rows not an error,
    "html_extract" -> ((s, d) => Html.htmlBlocks(Html.fixturesDF(s))),
    // legacy encodings: a Latin-1 page via its meta charset (0xE9 must
    // become é, not a UTF-8 mangle) and a UTF-16LE page via its BOM
    // (whose NUL bytes would read as binary if the BOM didn't win),
    "html_charsets" -> ((s, d) => Html.htmlBlocks(Html.charsetFixturesDF(s))),
    // crawl frontier: sitemaps.org urlset + index members (the file a
    // crawler walks to seed URLs), entities decoded by the hardened
    // DOM walk, priority in exact micro-units,
    "sitemap_entries" -> ((s, d) => {
      import s.implicits._
      UrlOps.sitemapEntries(
        DocFixtures.sitemapAll.toDF("site", "content"))
    }),
    // the sitemap tree walked through the REAL transport: seed index →
    // genuine GETs → child urlsets (one plain, one .xml.gz), with the
    // index's self-cycle anti-joined away, its ftp: member dropped as
    // non-fetchable, and its 404 member contributing no rows after 3
    // real retries — the discovery seeding every production crawler
    // runs. Paths relativized (the port is ephemeral),
    "sitemap_tree" -> ((s, d) => {
      import s.implicits._
      val base = UrlIngest.sitemapTreeBase
      val seeds = Seq(s"$base/sitemap-index.xml").toDF("url")
      UrlOps.sitemapTree(seeds, backoffMs = 1)
        .select(regexp_replace(col("sitemap"), "^http://[^/]+", "").as("sitemap"),
          col("loc"), col("lastmod"), col("priority_micro"))
    }),
    // crawl compliance: RFC 9309 longest-match filtering under the
    // fixture policy — the graftbot group (press carve-out inside the
    // disallowed tree, '/tmp' PREFIX semantics catching '/tmpx') must
    // beat the deny-all '*' group; matching is a codegen'd when-chain
    // over the per-host rule literals, zero shuffle,
    "robots_filter" -> ((s, d) => {
      val rules = UrlOps.parseRobots(DocFixtures.robotsTxt, "graftbot")
      val id = col("doc_id").cast("string")
      val path = when(col("doc_id") % 5 === 0, concat(lit("/articles/page"), id))
        .when(col("doc_id") % 5 === 1, concat(lit("/private/data"), id))
        .when(col("doc_id") % 5 === 2, concat(lit("/private/press/rel"), id))
        .when(col("doc_id") % 5 === 3, concat(lit("/tmp/file"), id))
        .otherwise(concat(lit("/tmpx"), id))
      Tables.documents(s, d).select(col("doc_id"), path.as("path"),
        UrlOps.robotsAllowed(rules)(path).as("allowed"))
    }),
    // WARC container reading: the SAME five records plain and
    // member-gzipped must parse to identical rows (CommonCrawl's
    // .warc.gz framing); request/warcinfo records surface without
    // HTTP fields,
    "warc_records" -> ((s, d) => Warc.warcRecords(Warc.fixturesDF(s))),
    // the full crawl chain: WARC → 200/text-html responses → HTML
    // main-content blocks, one map-side pass (no joins, no shuffles),
    "warc_html_blocks" -> ((s, d) => Warc.warcHtmlBlocks(Warc.fixturesDF(s))),
    // crawl discovery, leg 1: raw <a href> values in document order
    // (quoted/bare forms, entity-decoded); binary garbage → no rows
    "html_links" -> ((s, d) => Html.htmlLinks(Html.fixturesDF(s))),
    // the WARC SINK round-trip (the archive pattern every production
    // crawler runs — fetch → WARC shards → extract): article pages are
    // fetched over the real transport, archived into 2 deterministic
    // WARC shards (records sorted by url, digest record-ids, fixed
    // WARC-Date), then parsed BACK by the reader; the oracle replays
    // the staged files with read_blob and compares byte-exactly via
    // size + sha256 — a framing bug on either side breaks the match,
    "warc_write_roundtrip" -> ((s, d) => {
      import s.implicits._
      val base = UrlIngest.crawlSiteBase
      val urls = (1 to 7).map(i => s"$base/article$i.html").toDF("url")
      val fetched = UrlIngest.fetchBytes(urls, backoffMs = 1)
        .filter(col("content").isNotNull)
        .select(col("url"), col("content_type"), col("content"))
      Warc.toWarcShards(fetched, nShards = 2)
        .select(explode(Warc.parseWarcUdf(col("content"))).as("r"))
        .select(regexp_replace(col("r.url"), "^http://[^/]+", "").as("path"),
          col("r.rec_type").as("rec_type"),
          col("r.http_status").as("http_status"),
          length(col("r.payload")).cast("long").as("n_bytes"),
          sha2(col("r.payload"), 256).as("payload_sha"))
    }),
    // the WET side of the archive family (CommonCrawl's extracted-text
    // .wet files — what training pipelines actually read): shard the
    // corpus text as ISO 28500 conversion records in BOTH framings,
    // parse back with the same reader, and the payload bytes must
    // round-trip (size + sha256 pinned independently by DuckDB over
    // the same source text),
    "wet_roundtrip" -> ((s, d) => {
      val pages = Tables.documents(s, d).filter(col("doc_id") < 200)
        .select(concat(lit("http://ex.com/doc"), col("doc_id")).as("url"),
          col("text"))
      Seq(false, true).map { gz =>
        Warc.toWetShards(pages, nShards = 2, gzipMembers = gz)
          .select(lit(if (gz) "gz" else "plain").as("framing"),
            explode(Warc.parseWarcUdf(col("content"))).as("r"))
      }.reduce(_ unionByName _)
        .select(col("framing"), col("r.url").as("url"),
          col("r.rec_type").as("rec_type"),
          col("r.content_type").as("content_type"),
          length(col("r.payload")).cast("long").as("n_bytes"),
          sha2(col("r.payload"), 256).as("payload_sha"))
    }),
    // per-host crawl statistics — the monitoring table every crawler
    // maintains (the reference's A-family stats, extended to the crawl
    // tier): fetch outcomes over the transport-edges URL set grouped
    // by host+outcome class. One hash shuffle; counts/bytes are exact
    // values the route design pins,
    "crawl_stats" -> ((s, d) => {
      import s.implicits._
      val base = s"http://127.0.0.1:${UrlIngest.fixtureServerPort}"
      val urls = Seq(
        s"$base/blog.html", s"$base/notes.txt", s"$base/redir/1/notes.txt",
        s"$base/redirloop/a", s"$base/throttle/notes.txt",
        s"$base/missing.html").toDF("url")
      UrlIngest.fetchBytes(urls, backoffMs = 1, maxRetryAfterMs = 50)
        .groupBy(UrlOps.urlHost(col("url")).as("host"),
          when(col("content").isNotNull, "fetched")
            .otherwise(regexp_extract(col("error"), ":([a-z0-9_]+)$", 1))
            .as("outcome"))
        .agg(count(lit(1)).as("n_urls"),
          sum(col("attempts")).cast("long").as("total_attempts"),
          sum(coalesce(length(col("content")), lit(0))).cast("long").as("total_bytes"),
          sum(col("redirects")).cast("long").as("total_redirects"))
    }),
    // RANDOM ACCESS into the archive — the property that makes a
    // 100 TB .warc.gz corpus splittable: each CDX entry's
    // [offset, offset+length) slice is one complete gzip member that
    // parses STANDALONE (no bytes before it needed), exactly how a
    // cluster assigns member ranges to tasks. Every slice must parse
    // to one record whose payload digest matches the CDX digest,
    "warc_cdx_slice" -> ((s, d) => {
      import s.implicits._
      val base = UrlIngest.crawlSiteBase
      val urls = (1 to 7).map(i => s"$base/article$i.html").toDF("url")
      val fetched = UrlIngest.fetchBytes(urls, backoffMs = 1)
        .filter(col("content").isNotNull)
        .select(col("url"), col("content_type"), col("content"))
      Warc.toWarcShards(fetched, nShards = 2, gzipMembers = true)
        .select(col("content"), explode(col("cdx")).as("m"))
        .select(col("m.url").as("url"), col("m.payload_sha").as("expected_sha"),
          Warc.parseWarcUdf(
            expr("substring(content, m.offset + 1, m.length)")).as("recs"))
        .select(regexp_replace(col("url"), "^http://[^/]+", "").as("path"),
          coalesce(size(col("recs")) === 1, lit(false)).as("member_parses"),
          coalesce(sha2(element_at(col("recs"), 1).getField("payload"), 256)
            === col("expected_sha"), lit(false)).as("digest_matches"))
    }),
    // inbound ANCHOR TEXT per target page — the label humans clicked,
    // aggregated across canonicalized targets (the hub's ?utm twin and
    // its plain link collapse onto article1, carrying BOTH labels): the
    // classic web-corpus relevance/description signal for a page,
    // robots-independent (it describes the target, fetched or not) but
    // nofollow-filtered and scheme-gated. One hash shuffle on target,
    "anchor_texts" -> ((s, d) => {
      import s.implicits._
      val base = UrlIngest.crawlSiteBase
      val pages = UrlIngest.fetchBytes(
          Seq(s"$base/site.html").toDF("url"), backoffMs = 1)
        .filter(col("content").isNotNull)
      Html.htmlLinks(pages, docCol = "url", binCol = "content")
        .filter(!col("nofollow"))
        .select(UrlOps.canonicalizeUrl(
          UrlOps.resolveUrl(col("doc"), col("href"))).as("target"),
          col("anchor_text"))
        .filter(UrlOps.isFetchable(col("target")))
        .groupBy(regexp_replace(col("target"), "^http://[^/]+", "").as("target_path"))
        .agg(count(lit(1)).as("n_refs"),
          array_join(sort_array(collect_list(col("anchor_text"))), "|").as("labels"))
    }),
    // iterative BFS crawl over the staged chain a → b → c → d (b also
    // cycles back to a): bounded driver rounds, each one distributed
    // fetch+extract pass, visited anti-join as the only per-round
    // shuffle. maxDepth 2 fetches a/b/c and never discovers d; the
    // cycle edge cannot re-fetch a,
    "crawl_bfs" -> ((s, d) => {
      import s.implicits._
      val base = s"http://127.0.0.1:${UrlIngest.fixtureServerPort}"
      val rules = UrlOps.parseRobots(DocFixtures.robotsTxt, "graftbot")
      CrawlCorpus.bfs(s, Seq(s"$base/bfs-a.html").toDF("url"), rules, maxDepth = 2,
        frontierPartitions = 1) // fixture-scale: 2-row frontiers
        .select(regexp_replace(col("url"), "^http://[^/]+", "").as("path"),
          col("depth"), col("fetched"))
    }),
    // canonical-identity dedup: a page's crawl KEY is its declared
    // canonical when present (normalized by the SAME canonicalizer as
    // fetch URLs — case + tracking params collapse), else its own URL;
    // the amp/mobile twins land on one key (content dedup could NOT
    // catch them — their bodies differ) while undeclared pages keep
    // their own identity. One hash shuffle on the key,
    "canonical_dedup" -> ((s, d) => {
      import s.implicits._
      val pages = (DocFixtures.directivesAll ++ Seq(
        ("story_amp", "html", DocFixtures.canonicalTwinAHtml.getBytes("UTF-8")),
        ("story_mobile", "html", DocFixtures.canonicalTwinBHtml.getBytes("UTF-8"))))
        .toDF("doc", "fmt", "content")
      Html.htmlDirectives(pages)
        .withColumn("crawl_key", UrlOps.canonicalizeUrl(
          coalesce(col("canonical"), concat(lit("http://site.local/"), col("doc")))))
        .groupBy(col("crawl_key"))
        .agg(count(lit(1)).cast("long").as("n_pages"),
          min(col("doc")).as("keeper"),
          array_join(sort_array(collect_list(col("doc"))), ",").as("docs"))
    }),
    // page-level crawl directives: rel=canonical (first wins, cased
    // attrs, a second declaration and a data-rel decoy ignored) and
    // meta robots noindex/nofollow incl. the 'none' shorthand — the
    // self-declarations a production crawler honors before a page or
    // its links enter the corpus,
    "html_directives" -> ((s, d) => {
      import s.implicits._
      Html.htmlDirectives(DocFixtures.directivesAll.toDF("doc", "fmt", "content"))
        .select(col("doc"), coalesce(col("canonical"), lit("")).as("canonical"),
          col("noindex"), col("nofollow"))
    }),
    // crawl discovery, the full loop: fetched pages → extracted links →
    // resolve against the page URL → canonical dedup → robots filter →
    // per-host politeness budget. The two WARC twins (plain + gz) carry
    // the same page, so distinct() must collapse their link sets before
    // the frontier window; shuffles: one for the distinct, one for the
    // host window — both on crawl-key columns, both AQE-skew-safe
    "crawl_discover" -> ((s, d) => {
      val rules = UrlOps.parseRobots(DocFixtures.robotsTxt, "graftbot")
      val pages = Warc.fixturesDF(s)
        .select(explode(Warc.parseWarcUdf(col("content"))).as("r"))
        .filter(col("r.rec_type") === "response" && col("r.http_status") === 200 &&
          lower(col("r.content_type")).startsWith("text/html"))
        .select(col("r.url").as("page_url"), Html.parseHtmlUdf(col("r.payload")).as("p"))
      val links = pages.select(col("page_url"), explode(col("p.links")).as("l"))
        .filter(!col("l.nofollow")) // rel=nofollow never seeds the frontier
        .select(UrlOps.canonicalizeUrl(
          UrlOps.resolveUrl(col("page_url"), col("l.href"))).as("url"))
        .distinct()
        .withColumn("path",
          regexp_extract(col("url"), "^[^:/?#]+://[^/?#]+([^?#]*)", 1))
        .filter(UrlOps.robotsAllowed(rules)(col("path")))
        .select(col("url"), lit(0L).as("priority_micro"))
      // discovered links honor the same Crawl-delay: 2 fixture policy
      UrlOps.crawlFrontier(links, hostBudget = 5,
        crawlDelaySec = rules.crawlDelaySec.getOrElse(1))
    }),
    // the WHOLE crawl pipeline over a REAL transport: seed URLs →
    // robots filter (the /private/ seed never reaches the wire) →
    // frontier schedule (budget + Crawl-delay ticks) → HTTP fetch from
    // the loopback fixture server (genuine GETs, retries on the 404) →
    // HTML extraction of the fetched bytes. The 404 page fetches null
    // after 3 attempts and contributes no blocks; only the blog page's
    // four content blocks survive — exactly the VALUES the oracle pins
    "crawl_fetch_e2e" -> ((s, d) => {
      import s.implicits._
      val base = s"http://127.0.0.1:${UrlIngest.fixtureServerPort}"
      val rules = UrlOps.parseRobots(DocFixtures.robotsTxt, "graftbot")
      val seeds = Seq(
        (s"$base/blog.html", 900000L),
        (s"$base/private/secret.html", 800000L), // robots-denied: never fetched
        (s"$base/missing.html", 100000L)).toDF("url", "priority_micro")
      val allowed = seeds
        .withColumn("path",
          regexp_extract(col("url"), "^[^:/?#]+://[^/?#]+([^?#]*)", 1))
        .filter(UrlOps.robotsAllowed(rules)(col("path")))
        .drop("path")
      val sched = UrlOps.crawlFrontier(allowed, hostBudget = 5,
        crawlDelaySec = rules.crawlDelaySec.getOrElse(1))
      val fetched = UrlIngest.fetchBytes(sched.select("url"), backoffMs = 1)
      Html.htmlBlocks(fetched.filter(col("content").isNotNull),
          docCol = "url", binCol = "content")
        .select(regexp_replace(col("doc"), "^http://[^/]+", "").as("path"),
          col("title"), col("block_idx"), col("heading"),
          col("content"), col("n_chars"))
    }),
    // HTTP transport edges every production crawl hits, against the
    // loopback server: Location chains (301/302/308, RELATIVE targets
    // resolved RFC 3986 §5, final_url + hop count recorded), a
    // self-cycle that must fail FAST at the hop cap (no retry changes
    // a loop), and a 429 whose explicit Retry-After drives the retry
    // sleep (capped — a hostile header must not park an executor).
    // Values are fully deterministic: codes/attempt counts come from
    // the route design, never timing,
    "crawl_http_edges" -> ((s, d) => {
      import s.implicits._
      val base = s"http://127.0.0.1:${UrlIngest.fixtureServerPort}"
      val urls = Seq(
        s"$base/blog.html",           // direct 200
        s"$base/redir/1/notes.txt",   // 302 -> /notes.txt
        s"$base/redir/2/blog.html",   // 308 -> 302 -> /blog.html
        s"$base/redirloop/a",         // 302 self-cycle -> too_many_redirects
        s"$base/throttle/notes.txt",  // 429 Retry-After: 1 -> 200 on attempt 2
        s"$base/gzbody/blog.html",    // Content-Encoding: gzip, inflated client-side
        s"$base/xnoindex/notes.txt"   // X-Robots-Tag: noindex (HTTP-layer robots)
      ).toDF("url")
      UrlIngest.fetchBytes(urls, backoffMs = 1, maxRetryAfterMs = 50)
        .select(
          regexp_replace(col("url"), "^http://[^/]+", "").as("path"),
          regexp_replace(col("final_url"), "^http://[^/]+", "").as("final_path"),
          col("redirects"), col("attempts"),
          col("content").isNotNull.as("fetched"),
          coalesce(col("error"), lit("")).as("error"),
          coalesce(col("x_robots"), lit("")).as("x_robots"))
    }),
    // incremental recrawl as a STREAM (§2.10 × the round-17b transport):
    // per-URL validator state (transformWithState, ONE string per URL)
    // revalidates each due page with If-None-Match across micro-batches
    // — batch 0 first-crawls both pages (a DUPLICATE due-mark collapses
    // to one fetch: the oracle's row COUNT pins it), the page then
    // CHANGES on disk while notes.txt does not, and batch 1 re-fetches
    // only the changed page (fresh validator stored) while the
    // unchanged one costs a 304 header exchange with no body,
    "recrawl_stream_e2e" -> ((s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val base = s"http://127.0.0.1:${UrlIngest.fixtureServerPort}"
      // a MUTABLE page staged after server init (not in the re-stage
      // keep set; .html stays outside the ingest oracles' globs)
      val pageFile = new java.io.File(UrlIngest.defaultStageDir, "recrawl-page.html")
      def stage(v: String): Unit = {
        java.nio.file.Files.write(pageFile.toPath,
          (s"<html><head><title>Recrawl</title></head><body>" +
            s"<p>Content version $v of the recrawl fixture page.</p>" +
            s"</body></html>").getBytes("UTF-8"))
        ()
      }
      stage("one")
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val shufKey = "spark.sql.shuffle.partitions"
      val prevShuf = s.conf.getOption(shufKey)
      s.conf.set(shufKey, "2")
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long)]
      val q = graft.streaming.StreamingIngest.streamingRecrawl(
          input.toDS().map { case (u, b) =>
            graft.streaming.StreamingIngest.RecrawlDue(u, b) },
          backoffMs = 1)
        .writeStream.format("memory").queryName("graft_recrawl_stream")
        .outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-recrawl-ck").toString)
        .start()
      try {
        input.addData((s"$base/recrawl-page.html", 0L),
          (s"$base/recrawl-page.html", 0L), // duplicate due-mark: collapses
          (s"$base/notes.txt", 0L))
        q.processAllAvailable()
        stage("two") // the page changes between crawl cycles
        input.addData((s"$base/recrawl-page.html", 1L), (s"$base/notes.txt", 1L))
        q.processAllAvailable()
      } finally {
        q.stop()
        prev match { case Some(v) => s.conf.set(key, v); case None => s.conf.unset(key) }
        prevShuf match { case Some(v) => s.conf.set(shufKey, v); case None => s.conf.unset(shufKey) }
      }
      s.table("graft_recrawl_stream")
        .select(col("batch_id"),
          regexp_replace(col("url"), "^http://[^/]+", "").as("path"),
          col("not_modified"), col("refetched"), col("attempts"), col("has_etag"))
    }),
    // the incremental-recrawl contract (S2's idempotence at the HTTP
    // layer): pass 1 fetches and records each page's ETag; pass 2
    // revalidates with If-None-Match and must come back 304/no-body
    // for unchanged pages — at recrawl scale the dominant outcome,
    // turning a re-extract pass into a header exchange — while a stale
    // validator (the page changed since last crawl) re-fetches the
    // body and returns the CURRENT etag for the next cycle,
    "crawl_revisit" -> ((s, d) => {
      import s.implicits._
      val base = s"http://127.0.0.1:${UrlIngest.fixtureServerPort}"
      val first = UrlIngest.fetchBytes(
          Seq(s"$base/blog.html", s"$base/notes.txt").toDF("url"), backoffMs = 1)
      val in = first
        .select(col("url"), col("etag"),
          lit(null).cast("string").as("lm"), lit("revalidate").as("kind"))
        .unionByName(Seq((s"$base/blog.html", "\"stale\"", null: String, "changed"))
          .toDF("url", "etag", "lm", "kind"))
        // the many-servers-send-no-ETag path: Last-Modified alone
        // revalidates via If-Modified-Since (etag NULL)
        .unionByName(first.filter(col("url").endsWith("/blog.html"))
          .select(col("url"), lit(null).cast("string").as("etag"),
            col("last_modified").as("lm"), lit("lm_only").as("kind")))
      UrlIngest.fetchBytesConditional(in, backoffMs = 1,
          lastModifiedCol = Some("lm"))
        .select(regexp_replace(col("url"), "^http://[^/]+", "").as("path"),
          col("kind"), col("not_modified"),
          col("content").isNotNull.as("body_returned"),
          col("etag").isNotNull.as("has_etag"))
    }),
    // adaptive revisit policy over a deterministic multi-cycle fetch
    // history (1..4 fetches per url at 1000 s ticks; a fetch saw change
    // when (doc_id+cycle)%3=0): change-observing urls earn short
    // intervals, static ones long, linearly between the bounds — the
    // due-selection every production recrawl layers on 304s. ONE
    // url-keyed aggregate, zero windows,
    "recrawl_schedule" -> ((s, d) => {
      UrlOps.recrawlSchedule(recrawlHistory(s, d), nowSec = 6500L,
        minIntervalSec = 500L, maxIntervalSec = 5000L)
    }),
    // the recrawl BATCH those schedules select: stalest-first top-12 of
    // the due set via orderBy+limit (TakeOrderedAndProject — bounded
    // merge, no global window); ties break on url,
    "recrawl_due" -> ((s, d) => {
      UrlOps.dueTopN(UrlOps.recrawlSchedule(recrawlHistory(s, d),
        nowSec = 6500L, minIntervalSec = 500L, maxIntervalSec = 5000L), 12)
        .select("url", "n_fetches", "change_rate_micro", "next_due_sec",
          "overdue_sec")
    }),
    // the UNIFIED due set (observed change rate ∪ declared sitemap
    // lastmod, dedup'd on url, budget-capped): the fixture makes the
    // signals DISAGREE — every third url is sitemap-listed (every
    // sixth with a post-fetch lastmod → 'updated', the rest declared
    // fresh), every eleventh id adds a never-fetched sitemap url
    // ('new'), and the observed leg fires on its own adaptive
    // intervals — so the batch holds due-by-both, due-by-either, and
    // excludes due-by-neither,
    "recrawl_due_unified" -> ((s, d) => {
      val id = col("doc_id")
      val pUrl = concat(lit("http://h"), (id % 5).cast("string"),
        lit(".example.com/p"), id.cast("string"))
      val entries = Tables.documents(s, d).filter(id % 3 === 0)
        .select(pUrl.as("loc"),
          when(id % 6 === 0, "1970-01-02").otherwise("1970-01-01").as("lastmod"))
        .unionByName(Tables.documents(s, d).filter(id % 11 === 0)
          .select(concat(lit("http://h"), (id % 5).cast("string"),
            lit(".example.com/new"), id.cast("string")).as("loc"),
            lit("1970-01-03").as("lastmod")))
      UrlOps.recrawlDueUnified(recrawlHistory(s, d), entries,
        nowSec = 6500L, topN = 150, minIntervalSec = 500L,
        maxIntervalSec = 5000L)
    }),
    // Unicode NFC normalization (functions.NormalizeText) — the pass
    // that runs before content fingerprinting so composed U+00E9 and
    // decomposed e+U+0301 share one dedup key. Rows cycle decomposed /
    // composed / no-precomposed-form / plain-ASCII shapes; `changed`
    // must fire ONLY on the decomposed class,
    "nfc_normalize" -> ((s, d) => {
      val id = col("doc_id")
      val raw = when(id % 4 === 0,
          concat(lit("Cafe\u0301 menu "), id.cast("string")))
        .when(id % 4 === 1, concat(lit("Caf\u00e9 menu "), id.cast("string")))
        .when(id % 4 === 2, concat(lit("na\u0131\u0308ve "), id.cast("string")))
        .otherwise(concat(lit("plain ascii "), id.cast("string")))
      Tables.documents(s, d).select(id.as("doc_id"), raw.as("raw"),
        TextAnalysis.normalizeText(raw).as("nfc"),
        (TextAnalysis.normalizeText(raw) =!= raw).as("changed"),
        length(raw).as("len_raw"),
        length(TextAnalysis.normalizeText(raw)).as("len_nfc"))
    }),
    // sitemap-lastmod staleness (the site-declared due signal next to
    // recrawl_schedule's observed change rates): never-fetched urls are
    // 'new', declared-lastmod-after-the-fetch-day 'updated', the rest —
    // including lastmod-less entries — 'fresh'. Fetch ledger pinned to
    // 2026-01-15; lastmod days cycle the month; every 7th entry has no
    // lastmod,
    "sitemap_staleness" -> ((s, d) => {
      val id = col("doc_id")
      val url = concat(lit("http://h"), (id % 5).cast("string"),
        lit(".example.com/p"), id.cast("string"))
      val entries = Tables.documents(s, d).select(url.as("loc"),
        when(id % 7 === 6, lit(null).cast("string"))
          .otherwise(concat(lit("2026-01-"),
            lpad((id % 28 + 1).cast("string"), 2, "0"))).as("lastmod"))
      val ledger = Tables.documents(s, d).filter(id % 3 === 0)
        .select(url.as("url"), (lit(1768435200L) + id % 1000).as("fetch_ts_sec"))
      UrlOps.sitemapStaleness(entries, ledger)
    }),
    // URL-level quality filtering (RefinedWeb, Penedo et al. 2023
    // §3.1/G.1) — the filter a curated pipeline runs BEFORE fetching:
    // registrable-domain blocklist (broadcast equi-join), bad-word
    // scoring over the URL, digit-heavy hosts, length cap. Synthetic
    // frontier derived from doc_id: hosts cycle blocked/ccTLD/digit
    // shapes, every 11th URL carries a bad word, every 13th a 600-char
    // tail,
    "url_filter" -> ((s, d) => {
      import s.implicits._
      val id = col("doc_id")
      val host = when(id % 7 === 0, "spamcasino.com")
        .when(id % 7 === 1, "sub.badsite.org")
        .when(id % 7 === 2, "news.example.com")
        .when(id % 7 === 3, "blog.example.co.uk")
        .when(id % 7 === 4, "1234567.net")
        .when(id % 7 === 5, "shop.example.com")
        .otherwise("example.net")
      val url = concat(lit("http://"), host, lit("/p"), id.cast("string"),
        when(id % 11 === 0, "/freexxx").otherwise(""),
        when(id % 13 === 0, concat(lit("/"), lit("x" * 600))).otherwise(""))
      UrlOps.urlFilter(Tables.documents(s, d).select(url.as("url")),
        Seq("spamcasino.com", "badsite.org").toDF("domain"))
    }),
    // host-level repeated-line removal (CCNet, Wenzek et al. 2020 §2):
    // the cross-page boilerplate class per-page heuristics cannot see.
    // Every page gets a nav line shared corpus-wide and a copyright
    // line shared per host; the operator must strip both (plus any
    // line the corpus text itself repeats on >=50% of a host's docs)
    // and keep the rest byte-exact in document order,
    "host_line_dedup" -> ((s, d) => {
      val host = concat(lit("h"), (col("doc_id") % 5).cast("string"))
      val pages = Tables.documents(s, d).select(col("doc_id"), host.as("host"),
        concat(lit("Home | About | Contact\n"), col("text"),
          lit("\n(c) site "), host).as("text"))
      Cleaning.hostLineDedup(pages)
        .select("doc_id", "host", "n_lines", "n_removed", "clean_text")
    }),
    // host reputation — the crawl loop's FEEDBACK edge: per-registrable-
    // domain keep rates from page verdicts (here the Gopher quality
    // family over the raw corpus), domains below 45% at >= 3 pages flag
    // as the NEXT round's urlFilter blocklist. 46 synthetic domains
    // (2 TLD shapes x 23), ~10 pages each at sf0.01,
    "host_reputation" -> ((s, d) => {
      val id = col("doc_id")
      val host = when(id % 2 === 0,
          concat(lit("www.site"), (id % 23).cast("string"), lit(".com")))
        .otherwise(concat(lit("shop.site"), (id % 23).cast("string"), lit(".co.uk")))
      val docs = Tables.documents(s, d)
      // the gopher_quality fixture decoration (raw synthetic text is
      // constant-false under the stop-word rule): %3≠0 docs close with
      // a stop-word-rich sentence, %4 bullets, %6 ellipsis — verdicts
      // then VARY by domain residue class and the threshold splits
      val page = concat(col("text"),
        when(id % 4 === 0,
          lit("\n- a bullet item\n- another bullet item")).otherwise(lit("")),
        when(id % 6 === 0,
          lit("\nthe story continues...")).otherwise(lit("")),
        when(id % 3 =!= 0,
          lit("\nthat view of the data shall be joined with care."))
          .otherwise(lit("")))
      UrlOps.hostReputation(
        docs.select(id, host.as("host")),
        docs.select(id, TextAnalysis.gopherQualityPass(page).as("keep")),
        minPages = 3, minKeepRateMicro = 450000L)
    }),
    // THE CRAWL->CORPUS FLAGSHIP: the whole chain lives in
    // operators.CrawlCorpus (discovery -> politeness -> real HTTP
    // fetch -> extraction -> 8-family verdict -> banded near-dup ->
    // corpus membership, per-stage drillable via `Tool drill crawl_corpus`).
    // Verdicts are hand-derived in the oracle: hub fails gopher word
    // count, article3 fails gopher+C4 (word soup, no punctuation),
    // article4 is benchmark-contaminated, dup.html is an exact text
    // duplicate, article2 near-dups article1 — article1, article5 and
    // the sitemap-only article6 are the corpus,
    "crawl_corpus_e2e" -> ((s, d) => CrawlCorpus.run(s)),
    // the frontier as a STREAM (§2.10 × crawl): per-host fetch-slot
    // state (transformWithState, one int per host) hands out ranks and
    // polite ticks across micro-batches under a LIFETIME budget of 3 —
    // batch 1's host-a arrivals compete for the one slot batch 0 left,
    // and the loser is dropped durably. Within a batch, ranks follow
    // the batch window's (priority desc, url) order; across batches,
    // arrival order — the documented streaming contract
    "frontier_stream_e2e" -> ((s, d) => {
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      val key = "spark.sql.streaming.stateStore.providerClass"
      val prev = s.conf.getOption(key)
      s.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      // state-store count = shuffle partitions: 32 RocksDB instances per
      // micro-batch is pure fixed overhead for a 6-row fixture stream
      // (measured 4.7 s of the query's cost). Scope it down exactly like
      // the provider conf — a real deployment sizes this to stream
      // volume; the checkpoint pins it per query, so each invocation's
      // fresh checkpoint re-reads the scoped value.
      val shufKey = "spark.sql.shuffle.partitions"
      val prevShuf = s.conf.getOption(shufKey)
      s.conf.set(shufKey, "2")
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Long)]
      // b.com published its own Crawl-delay (7 s); a.com takes the
      // global 2 s — per-host spacing must survive the stream path too
      val q = graft.streaming.StreamingIngest.streamingFrontier(
          input.toDF().toDF("url", "priority_micro"),
          hostBudget = 3, crawlDelaySec = 2,
          hostDelays = Map("b.com" -> 7))
        .writeStream.format("memory").queryName("graft_frontier_stream")
        .outputMode("append")
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-frontier-ck").toString)
        .start()
      try {
        input.addData(("http://a.com/p1", 900000L), ("http://a.com/p2", 100000L),
          ("http://b.com/q1", 500000L)) // batch 0: a gets ranks 1-2, b rank 1
        q.processAllAvailable()
        input.addData(("http://a.com/p3", 800000L), ("http://a.com/p4", 700000L),
          ("http://b.com/q2", 250000L)) // batch 1: only p3 fits a's last slot
        q.processAllAvailable()
      } finally {
        q.stop()
        prev match { case Some(v) => s.conf.set(key, v); case None => s.conf.unset(key) }
        prevShuf match { case Some(v) => s.conf.set(shufKey, v); case None => s.conf.unset(shufKey) }
      }
      s.table("graft_frontier_stream")
    }),
    // per-host politeness over the frontier (the third crawl leg after
    // robots + sitemaps): deterministic doc_id-derived URLs across 7
    // hosts — messy case/port/fragment through the canonicalizer,
    // /private/ paths dropped by the graftbot robots rules — then the
    // next fetch batch of ≤5 per host by (priority desc, url). ONE hash
    // shuffle on host; the rank filter runs as WindowGroupLimit so a
    // hot host never materializes past the budget map-side,
    "crawl_frontier" -> ((s, d) => {
      import s.implicits._
      val rules = UrlOps.parseRobots(DocFixtures.robotsTxt, "graftbot")
      val id = col("doc_id").cast("string")
      val path = when(col("doc_id") % 5 === 1, concat(lit("/private/data"), id))
        .otherwise(concat(lit("/articles/page"), id))
      val messy = concat(lit("HTTP://Host"), (col("doc_id") % 7).cast("string"),
        lit(".Example.COM:80"), path, lit("#frag"))
      val frontier = Tables.documents(s, d)
        .filter(UrlOps.robotsAllowed(rules)(path))
        .select(UrlOps.canonicalizeUrl(messy).as("url"),
          ((col("doc_id") % 10) * 100000).as("priority_micro"))
      // each host is spaced by ITS robots Crawl-delay: host0/host3
      // published their own (5 s / 0 s — a zero delay is a legal robots
      // value and must not fall back); every other host takes the
      // fixture policy's global 2 s
      val delays = Seq(("host0.example.com", 5), ("host3.example.com", 0))
        .toDF("host", "crawl_delay_sec")
      UrlOps.crawlFrontier(frontier, hostBudget = 5,
        crawlDelaySec = rules.crawlDelaySec.getOrElse(1),
        hostDelays = Some(delays))
    }),
    // the crawl loop CLOSED as a stream (§2.10 × the crawl tier): WARC
    // shards arrive as micro-batches — batch 0 the plain shard, batch 1
    // its gz twin (a RE-crawl of the same pages: every block keys to the
    // same fp, so LWW upsert replaces rather than duplicates) — then an
    // at-least-once REPLAY of batch 1 outside the stream must be a
    // no-op. Final table ≡ the batch chain's blocks, one copy per page
    // (the parity the CrawlStreamSpec pins); ingest_ts/fp/doc_id are
    // merge plumbing, not output,
    "crawl_stream_e2e" -> ((s, d) => {
      val dir = crawlStreamDir
      val fs = new org.apache.hadoop.fs.Path(dir)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // wipe target + segments: every invocation (bench min-of-two,
      // verify) replays the identical lifecycle from scratch
      Seq(dir, dir + "_seg", dir + "_tmp", dir + "_bak").foreach(p =>
        fs.delete(new org.apache.hadoop.fs.Path(p), true))
      import s.implicits._
      implicit val sqlCtx = s.sqlContext
      // scope shuffle width to the stream (the frontier_stream_e2e
      // precedent): the compact's one LWW window over a handful of
      // rows must not pay 32 shuffle tasks of pure scheduling floor
      val shufKey = "spark.sql.shuffle.partitions"
      val prevShuf = s.conf.getOption(shufKey)
      s.conf.set(shufKey, "2")
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(String, Array[Byte])]
      // round-17 shape: the batch path APPENDS one segment per
      // micro-batch (O(batch), no table read, no swap); the LWW merge
      // happens ONCE in the closing compact — the Delta/Iceberg MERGE
      // cadence, and ~half the round-16 floor (which paid a full
      // read-merge-rewrite cycle per batch)
      val q = input.toDF()
        .selectExpr("_1 AS warc", "_2 AS content")
        .writeStream
        .foreachBatch { (b: DataFrame, _: Long) =>
          graft.streaming.StreamingIngest.crawlAppendBatch(s, b, dir)
        }
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-crawl-e2e-ck").toString)
        .start()
      // canonical twins in SEPARATE micro-batches: the amp rendering
      // lands in batch 0, the desktop rendering in batch 2 — both
      // declare (case/utm-noised) rel=canonical to the same story, so
      // the ledger's canonical-identity key must collapse them to ONE
      // corpus row with the later twin's text, even though their block
      // contents differ (the class content dedup cannot catch)
      def twinWarc(url: String, html: String): (String, Array[Byte]) =
        ("twin", graft.operators.Warc.buildWarc(
          Iterator((url, "text/html; charset=utf-8", html.getBytes("UTF-8"))),
          "2026-01-01T00:00:00Z"))
      try {
        input.addData(DocFixtures.warcAll.filter(_._1 == "crawl") :+ // batch 0
          twinWarc("http://amp.example.com/story", DocFixtures.canonicalTwinAHtml))
        q.processAllAvailable()
        input.addData(DocFixtures.warcAll.filter(_._1 == "crawl_gz")) // batch 1: re-crawl
        q.processAllAvailable()
        input.addData(Seq( // batch 2: the twin's other rendering
          twinWarc("http://m.example.com/story", DocFixtures.canonicalTwinBHtml)))
        q.processAllAvailable()
        // at-least-once replay of batch 1 AFTER its commit: idempotent
        graft.streaming.StreamingIngest.crawlAppendBatch(s,
          DocFixtures.warcAll.filter(_._1 == "crawl_gz").toDF("warc", "content"), dir)
        graft.streaming.StreamingIngest.crawlCompact(s, dir)
      } finally {
        q.stop()
        prevShuf match {
          case Some(v) => s.conf.set(shufKey, v); case None => s.conf.unset(shufKey)
        }
      }
      s.read.parquet(dir)
        .select("url", "crawl_key", "block_idx", "heading", "content", "n_chars")
    }),
    // crawl-key normalization: deterministic messy URLs built from
    // doc_id (case noise, default port, tracking params, unsorted
    // params, fragment, %4 adds a trailing slash and drops the real
    // params) through the documented canonicalizer; the oracle derives
    // the EXPECTED canonical form independently from doc_id,
    "url_canonical" -> ((s, d) => {
      val id = col("doc_id").cast("string")
      val messy = concat(
        lit("HTTPS://ExAmple.COM:443/Docs/page"), id,
        when(col("doc_id") % 4 === 0, lit("/")).otherwise(lit("")),
        lit("?utm_source=news"),
        when(col("doc_id") % 4 =!= 0,
          concat(lit("&z="), (col("doc_id") % 3).cast("string"),
            lit("&a="), (col("doc_id") % 5).cast("string"))).otherwise(lit("")),
        lit("#sec"), (col("doc_id") % 2).cast("string"))
      Tables.documents(s, d).select(col("doc_id"), messy.as("url"),
        UrlOps.canonicalizeUrl(messy).as("canonical_url"))
    }),
    "doc_validate" -> ((s, d) =>
      DocExtract.validateAll(DocExtract.fixturesDF(s))),
    // S5-lite: whitespace-alignment table detection over the PDF text
    // layer (pdfplumber stand-in); arrays emitted as to_json for a
    // stable hash compare,
    "pdf_tables" -> ((s, d) =>
      DocExtract.pdfTables(DocExtract.fixturesDF(s).filter(col("fmt") === "pdf"))
        .select(col("doc"), col("page"), col("table_idx"),
          to_json(col("headers")).as("headers_json"),
          to_json(col("rows")).as("rows_json"))),
    // C3: both structured table surfaces (DOCX w:tbl + detected PDF
    // tables) through the same table→text chunk kernel,
    "c3_table_text" -> ((s, d) => {
      val fx = DocExtract.fixturesDF(s)
      DocExtract.docxTables(fx.filter(col("fmt") === "docx"))
        .withColumn("source", lit("docx"))
        .unionByName(
          DocExtract.pdfTables(fx.filter(col("fmt") === "pdf"))
            .withColumn("source", lit("pdf")))
        .select(col("doc"), col("source"), col("page"), col("table_idx"),
          Chunking.tableToText(col("headers"), col("rows")).as("content"))
    }),

    // --- training-pipeline tier: decontamination + domain mixing -------,
  )

  protected def docsOracles: Map[String, String] = Map(
    "mime_sniff" -> {
      val fixtureValues = Validation.mimeFixtures
        .map { case (n, h) => s"('${esc(n)}', '${esc(h)}')" }.mkString(", ")
      s"""SELECT name,
         | CASE WHEN starts_with(head, '%PDF') THEN 'application/pdf'
         |  WHEN starts_with(head, '${esc(Validation.zipMagic)}') AND position('word/' IN head) > 0
         |   THEN 'application/vnd.openxmlformats-officedocument.wordprocessingml.document'
         |  WHEN starts_with(head, '${esc(Validation.zipMagic)}') THEN 'application/zip'
         |  WHEN starts_with(head, '${esc(Validation.oleMagic)}') THEN 'application/msword'
         |  WHEN position('Return-Path:' IN substr(head, 1, 500)) > 0
         |    OR position('MIME-Version:' IN substr(head, 1, 500)) > 0 THEN 'message/rfc822'
         |  WHEN position('<!doctype html' IN lower(substr(head, 1, 100))) > 0
         |    OR position('<html' IN lower(substr(head, 1, 100))) > 0 THEN 'text/html'
         |  ELSE 'application/octet-stream' END AS mime
         |FROM (VALUES $fixtureValues) AS t(name, head)""".stripMargin
    },
    "validate_docs" ->
      """SELECT doc_id,
        | COALESCE(array_to_string(list_filter([
        |   CASE WHEN length(trim(text)) = 0 THEN 'empty_content' END,
        |   CASE WHEN n_chars > 500 THEN 'file_too_large' END,
        |   CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es') THEN 'unsupported_type' END],
        |  x -> x IS NOT NULL), ','), '') AS errors,
        | len(list_filter([
        |   CASE WHEN length(trim(text)) = 0 THEN 'empty_content' END,
        |   CASE WHEN n_chars > 500 THEN 'file_too_large' END,
        |   CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es') THEN 'unsupported_type' END],
        |  x -> x IS NOT NULL)) = 0 AS is_valid
        |FROM documents""".stripMargin,

    // independent recount of the observed metrics: valid = zero errors
    // under the same validate_docs predicates,
    "usage_counters" ->
      """SELECT CAST(count(*) AS BIGINT) AS total,
        | CAST(count(CASE WHEN length(trim(text)) > 0 AND n_chars <= 500
        |   AND lang IN ('en', 'de', 'fr', 'es') THEN 1 END) AS BIGINT) AS valid,
        | CAST(sum(length(text)) AS BIGINT) AS chars_processed
        |FROM documents""".stripMargin,

    // the overwrite-init contract: only the SECOND write's rows survive,
    "index_init" ->
      """SELECT CAST(id AS BIGINT) AS id, payload
        |FROM (VALUES (1, 'alpha'), (2, 'beta'), (3, 'gamma')) AS t(id, payload)""".stripMargin,
    "ingest_dedup" ->
      """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
        |FROM documents
        |WHERE doc_id % 2 = 1
        | AND md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) NOT IN (
        |   SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g'))
        |   FROM documents WHERE doc_id % 2 = 0)""".stripMargin,

    // replays the staged files with read_blob; ASCII-only fixtures +
    // decode() keep the sha256 byte-faithful (a VARCHAR cast would
    // \x-escape control bytes like CRLF; see UrlIngest scaladoc).
    // The sniff CASE carries only the branches these fixtures can hit —
    // the full branch set is mime_sniff's oracle.,
    "ingest_urls" ->
      raw"""WITH f AS (
        | SELECT filename, size, decode(content) AS txt
        | FROM read_blob('${urlStageDir}/*.eml')
        | UNION ALL SELECT filename, size, decode(content)
        | FROM read_blob('${urlStageDir}/*.txt')
        | UNION ALL SELECT filename, size, decode(content)
        | FROM read_blob('${urlStageDir}/*.pdf')),
        |r AS (SELECT 'file://' || filename AS url, size, txt,
        |  lower(regexp_extract(filename, '(\.[A-Za-z0-9]+)$$', 1)) AS ext FROM f),
        |m AS (SELECT url, size, txt, ext,
        |  CASE WHEN position('Return-Path:' IN substr(txt, 1, 500)) > 0
        |      OR position('MIME-Version:' IN substr(txt, 1, 500)) > 0 THEN 'message/rfc822'
        |   WHEN ext = '.txt' THEN 'text/plain'
        |   ELSE 'application/octet-stream' END AS mime
        | FROM r),
        |v AS (SELECT url,
        |  substr(md5(url), 1, 8) || '_' || substr(sha256(txt), 1, 12) || ext AS cache_name,
        |  CAST(size AS BIGINT) AS file_size, mime AS mime_type, sha256(txt) AS file_hash,
        |  1 AS attempts,
        |  (mime = 'message/rfc822' AND ext = '.eml')
        |   OR (mime = 'text/plain' AND ext IN ('.txt', '.eml')) AS is_valid,
        |  CASE WHEN mime IN ('message/rfc822', 'text/plain') THEN '' ELSE 'unsupported_type' END AS errors
        | FROM m)
        |SELECT * FROM v
        |UNION ALL SELECT 'file://${urlStageDir}/missing.docx',
        | NULL, NULL, NULL, NULL, 3, false, 'download_failed_after_3_attempts:fetch_error'""".stripMargin,

    // same staged bytes replayed path-keyed; the flaky route is the
    // notes.txt payload at attempts=2, the 404 row carries the http kind,
    "ingest_http" ->
      raw"""WITH f AS (
        | SELECT replace(filename, '${urlStageDir}', '') AS path, size, decode(content) AS txt
        | FROM read_blob('${urlStageDir}/*.eml')
        | UNION ALL SELECT replace(filename, '${urlStageDir}', ''), size, decode(content)
        | FROM read_blob('${urlStageDir}/*.txt')
        | UNION ALL SELECT replace(filename, '${urlStageDir}', ''), size, decode(content)
        | FROM read_blob('${urlStageDir}/*.pdf')),
        |fl AS (SELECT path, size, txt, 1 AS attempts FROM f
        | UNION ALL SELECT '/flaky' || path, size, txt, 2 FROM f WHERE path = '/notes.txt'),
        |m AS (SELECT path, size, txt, attempts,
        |  lower(regexp_extract(path, '(\.[A-Za-z0-9]+)$$', 1)) AS ext,
        |  CASE WHEN position('Return-Path:' IN substr(txt, 1, 500)) > 0
        |      OR position('MIME-Version:' IN substr(txt, 1, 500)) > 0 THEN 'message/rfc822'
        |   WHEN lower(regexp_extract(path, '(\.[A-Za-z0-9]+)$$', 1)) = '.txt' THEN 'text/plain'
        |   ELSE 'application/octet-stream' END AS mime
        | FROM fl),
        |v AS (SELECT path,
        |  CAST(size AS BIGINT) AS file_size, mime AS mime_type, sha256(txt) AS file_hash,
        |  attempts,
        |  (mime = 'message/rfc822' AND ext = '.eml')
        |   OR (mime = 'text/plain' AND ext IN ('.txt', '.eml')) AS is_valid,
        |  CASE WHEN mime IN ('message/rfc822', 'text/plain') THEN '' ELSE 'unsupported_type' END AS errors
        | FROM m)
        |SELECT * FROM v
        |UNION ALL SELECT '/missing.docx',
        | NULL, NULL, NULL, 3, false, 'download_failed_after_3_attempts:http_404'""".stripMargin,
    "ocr_extract" ->
      """SELECT * FROM (VALUES
        | ('scan1', 1, 1, 'CLAIM FORM 7'),
        | ('scan1', 1, 2, 'POLICY NO 42'),
        | ('scan1', 2, 1, 'TOTAL DUE 1350'),
        | ('scan2', 1, 1, 'HELLO WORLD')
        |) AS t(doc, page, line_no, text)""".stripMargin,

    // Expected rows computed INDEPENDENTLY from the MediaCodec fixture
    // formulas (python: same pixel/PCM integer math + zlib.crc32, which
    // matches java.util.zip.CRC32) — a drift in the fixture builder, the
    // JDK codec path, or the stats kernel breaks the compare.,
    "mm_image_stats" ->
      """SELECT doc, codec, width, height, CAST(n_pixels AS BIGINT) AS n_pixels,
        | CAST(sum_r AS BIGINT) AS sum_r, CAST(sum_g AS BIGINT) AS sum_g,
        | CAST(sum_b AS BIGINT) AS sum_b, CAST(rgb_crc32 AS BIGINT) AS rgb_crc32
        |FROM (VALUES
        | ('icon','bmp',16,16,256,34304,31744,36224,1230712338),
        | ('banner','bmp',97,41,3977,505588,516052,516216,2795419054),
        | ('photo','png',64,48,3072,392960,387584,388864,2943059237),
        | ('tall','png',20,120,2400,304128,308288,305232,982174910)
        |) AS t(doc, codec, width, height, n_pixels, sum_r, sum_g, sum_b, rgb_crc32)""".stripMargin,
    "mm_image_resize" ->
      """SELECT doc, width, height, out_width, out_height, scaled,
        | CAST(out_crc32 AS BIGINT) AS out_crc32
        |FROM (VALUES
        | ('icon',16,16,16,16,false,1230712338),
        | ('banner',97,41,32,13,true,3524222829),
        | ('photo',64,48,32,24,true,3410041458),
        | ('tall',20,120,5,32,true,3960382074)
        |) AS t(doc, width, height, out_width, out_height, scaled, out_crc32)""".stripMargin,
    "mm_image_embed" ->
      """SELECT doc, CAST(n_pixels AS BIGINT) AS n_pixels, hist_json FROM (VALUES
        | ('icon',256,'[0,0,0,0,0,0,24,6,14,2,0,0,0,0,0,0,0,0,0,0,12,0,27,31,0,0,0,0,0,0,0,0,0,0,0,0,11,0,13,15,15,0,9,16,0,0,0,0,0,0,0,0,0,0,0,0,30,0,6,25,0,0,0,0]'),
        | ('banner',3977,'[94,96,93,90,10,12,43,19,107,91,106,107,30,39,37,24,60,73,99,92,47,24,49,57,64,62,66,53,61,68,63,61,0,0,5,15,111,101,95,104,42,60,54,39,90,81,90,108,61,59,48,53,80,91,82,66,33,37,53,50,64,60,66,82]'),
        | ('photo',3072,'[96,69,62,88,30,22,38,24,82,68,56,77,10,11,10,5,82,67,58,72,26,8,33,39,34,43,33,36,61,64,61,61,7,7,5,2,82,73,70,77,48,48,21,40,80,69,65,94,61,35,42,53,62,53,51,64,33,32,49,50,44,58,30,41]'),
        | ('tall',2400,'[34,55,32,44,35,34,58,22,59,30,43,63,17,32,31,18,31,32,15,20,26,25,59,63,57,31,34,20,47,59,39,49,17,34,33,33,51,48,61,56,45,42,40,25,37,37,4,32,13,44,36,39,34,37,36,17,61,42,53,60,30,36,20,33]')
        |) AS t(doc, n_pixels, hist_json)""".stripMargin,
    "mm_image_dhash" ->
      """SELECT doc, CAST(dhash AS BIGINT) AS dhash FROM (VALUES
        | ('icon', 6926571687223771200),
        | ('banner', -7988782877595523992),
        | ('photo', 1171364816565340192),
        | ('tall', -9187334439409545184),
        | ('poster', 1171364816565340192)
        |) AS t(doc, dhash)""".stripMargin,
    "mm_image_neardup" ->
      """SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming
        |FROM (VALUES ('photo', 'poster', 0)) AS t(doc_a, doc_b, hamming)""".stripMargin,
    "mm_video_dhash" ->
      """SELECT doc, frame_idx, CAST(dhash AS BIGINT) AS dhash FROM (VALUES
        | ('clip', 0, 1740720489804861456),
        | ('clip', 1, 293900025107843080),
        | ('clip', 2, 435180390886671364),
        | ('clip', 3, 4865305015193043458),
        | ('clip', 4, 586106287322890497),
        | ('clip', 5, -9041668288473432064),
        | ('clip', 6, 4629772187124949184),
        | ('clip', 7, 2314885539493471312),
        | ('clip', 8, 1157442765444100130),
        | ('clip', 9, 578721382856267792),
        | ('clip', 10, -8934011345502401528),
        | ('clip', 11, 4792395161122637316),
        | ('short', 0, 0),
        | ('short', 1, 0),
        | ('short', 2, 4629771061636923520),
        | ('clip2', 0, 1740720489804861456),
        | ('clip2', 1, 293900025107843080),
        | ('clip2', 2, 435180390886671364),
        | ('clip2', 3, 4865305015193043458),
        | ('clip2', 4, 586106287322890497),
        | ('clip2', 5, -9041668288473432064),
        | ('clip2', 6, 4629772187124949184),
        | ('clip2', 7, 2314885539493471312)
        |) AS t(doc, frame_idx, dhash)""".stripMargin,
    "mm_video_shared" ->
      """SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
        | CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
        |FROM (VALUES ('clip', 'clip2', 8, 12, 8))
        | AS t(doc_a, doc_b, n_shared, n_a, n_b)""".stripMargin,
    "mm_audio_fp" ->
      """SELECT doc, n_windows, CAST(fingerprint AS BIGINT) AS fingerprint
        |FROM (VALUES
        | ('beep', 8, 56), ('beep_soft', 8, 56), ('tone', 16, 19564)
        |) AS t(doc, n_windows, fingerprint)""".stripMargin,
    "mm_audio_neardup" ->
      """SELECT doc_a, doc_b, CAST(fingerprint AS BIGINT) AS fingerprint
        |FROM (VALUES ('beep', 'beep_soft', 56))
        | AS t(doc_a, doc_b, fingerprint)""".stripMargin,
    // keeper-capped pair sets hand-derived from the hostile fixture:
    // per degenerate bucket only the 2 smallest docs pair FORWARD, so
    // 5 spacers give 2·(5-1)-1 = 7 pairs, 4 videos/silences give 5;
    // the legitimate twins ride along untouched,
    "mm_image_neardup_capped" ->
      """SELECT doc_a, doc_b, CAST(hamming AS BIGINT) AS hamming FROM (VALUES
        | ('a0', 'a1', 0), ('a0', 'a2', 0), ('a0', 'a3', 0), ('a0', 'a4', 0),
        | ('a1', 'a2', 0), ('a1', 'a3', 0), ('a1', 'a4', 0),
        | ('photo', 'poster', 0)
        |) AS t(doc_a, doc_b, hamming)""".stripMargin,
    "mm_video_shared_capped" ->
      """SELECT doc_a, doc_b, CAST(n_shared AS BIGINT) AS n_shared,
        | CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b FROM (VALUES
        | ('v0', 'v1'), ('v0', 'v2'), ('v0', 'v3'), ('v1', 'v2'), ('v1', 'v3')
        |) AS t(doc_a, doc_b)
        |CROSS JOIN (VALUES (1, 2, 2)) AS c(n_shared, n_a, n_b)""".stripMargin,
    "mm_audio_neardup_capped" ->
      """SELECT doc_a, doc_b, CAST(fingerprint AS BIGINT) AS fingerprint FROM (VALUES
        | ('s0', 's1', 0), ('s0', 's2', 0), ('s0', 's3', 0),
        | ('s1', 's2', 0), ('s1', 's3', 0),
        | ('beep', 'beep_soft', 56)
        |) AS t(doc_a, doc_b, fingerprint)""".stripMargin,
    "mm_wav_stats" ->
      """SELECT doc, channels, sample_rate_hz, bits,
        | CAST(n_frames AS BIGINT) AS n_frames, peak_abs,
        | CAST(sum_abs AS BIGINT) AS sum_abs
        |FROM (VALUES
        | ('beep',1,8000,16,800,10000,4405138),
        | ('tone',2,16000,16,1600,10000,15842499)
        |) AS t(doc, channels, sample_rate_hz, bits, n_frames, peak_abs, sum_abs)""".stripMargin,
    "mm_video_frames" ->
      """SELECT doc, frame_idx, CAST(frame_ts_ms AS BIGINT) AS frame_ts_ms,
        | width, height, n_frames, CAST(sum_r AS BIGINT) AS sum_r,
        | CAST(sum_g AS BIGINT) AS sum_g, CAST(sum_b AS BIGINT) AS sum_b,
        | CAST(rgb_crc32 AS BIGINT) AS rgb_crc32
        |FROM (VALUES
        | ('clip',0,0,24,16,12,51200,52224,49216,2338444615),
        | ('clip',5,200,24,16,12,47488,52864,47808,2053037352),
        | ('clip',10,400,24,16,12,48128,42240,49472,1875251231),
        | ('short',0,0,8,8,3,4480,5888,11104,2577235947)
        |) AS t(doc, frame_idx, frame_ts_ms, width, height, n_frames,
        |       sum_r, sum_g, sum_b, rgb_crc32)""".stripMargin,
    "mm_video_mjpg" -> mmVideoMjpgSql,
    "mm_decode_meta" ->
      """SELECT doc_id, octet_length(encode(text)) AS byte_len,
        | lower(substr(hex(encode(text)), 1, 16)) AS head_hex,
        | 64 + octet_length(encode(text)) % 576 AS width,
        | 64 + (octet_length(encode(text)) * 7) % 416 AS height,
        | octet_length(encode(text)) // 100 + 1 AS n_frames
        |FROM documents""".stripMargin,
    "mm_resize" ->
      """WITH meta AS (
        | SELECT doc_id,
        |  64 + octet_length(encode(text)) % 576 AS width,
        |  64 + (octet_length(encode(text)) * 7) % 416 AS height
        | FROM documents)
        |SELECT doc_id, width, height,
        | CAST(CASE WHEN greatest(width, height) > 224
        |  THEN (width * 224) // greatest(width, height) ELSE width END AS INTEGER) AS out_width,
        | CAST(CASE WHEN greatest(width, height) > 224
        |  THEN (height * 224) // greatest(width, height) ELSE height END AS INTEGER) AS out_height,
        | greatest(width, height) > 224 AS scaled
        |FROM meta""".stripMargin,
    "mm_frame_sample" ->
      """WITH meta AS (
        | SELECT doc_id, octet_length(encode(text)) // 100 + 1 AS n_frames FROM documents),
        |s AS (SELECT doc_id, n_frames, generate_series(0, n_frames - 1, 10) AS fs FROM meta)
        |SELECT doc_id, CAST(i - 1 AS INTEGER) AS sample_idx, fs[i] AS frame_idx,
        | fs[i] * 40 AS frame_ts_ms
        |FROM s, LATERAL (SELECT unnest(generate_series(1, len(fs))) AS i) g""".stripMargin,

    // Expected rows hand-derived from the DocFixtures constants (the
    // fixture builder and these literals are independent statements of
    // the same contract — either side drifting breaks the hash match).,
    "md_extract" ->
      """SELECT * FROM (VALUES
        | ('readme', 0, 'heading', 1, '', 'Title One'),
        | ('readme', 1, 'para', 0, '',
        |  'Intro paragraph with a link and code span continuing on a second line.'),
        | ('readme', 2, 'heading', 2, '', 'Usage'),
        | ('readme', 3, 'list', 0, '', 'item bold'),
        | ('readme', 4, 'list', 0, '', 'another ref'),
        | ('readme', 5, 'list', 0, '', 'first'),
        | ('readme', 6, 'list', 0, '', 'second'),
        | ('readme', 7, 'quote', 0, '', 'quoted line continues here'),
        | ('readme', 8, 'code', 0, 'scala', 'val x = 1 // code **stays** [raw](u)'),
        | ('readme', 9, 'para', 0, '', 'Tail para.')
        |) AS t(doc, block_idx, kind, level, lang, content)""".stripMargin,
    "md_sections" ->
      """SELECT * FROM (VALUES
        | ('readme', 0, '', 'preamble before any heading', 1),
        | ('readme', 1, 'Title One',
        |  'Intro paragraph with a link and code span continuing on a second line.', 1),
        | ('readme', 2, 'Usage', 'item bold' || chr(10) || 'val x = 1', 2)
        |) AS t(doc, section_idx, title, content, n_blocks)""".stripMargin,
    "docx_extract" ->
      """SELECT * FROM (VALUES
        | ('policy', 'policy_para_0', 'section', 'Coverage Policy', 'Heading1', 'Coverage Policy'),
        | ('policy', 'policy_para_1', 'paragraph', NULL, 'Normal', 'This policy covers accidental damage to insured property.'),
        | ('policy', 'policy_para_3', 'section', 'Exclusions', 'Heading2', 'Exclusions'),
        | ('policy', 'policy_para_4', 'paragraph', NULL, 'Normal', 'Damage caused by war or nuclear events is excluded.'),
        | ('policy', 'policy_para_5', 'paragraph', NULL, 'Normal', 'Contact support for claims.'),
        | ('policy', 'policy_table_0', 'table', NULL, NULL, 'Item | Limit' || chr(10) || 'Laptop | 1000' || chr(10) || 'Phone | 500'),
        | ('memo', 'memo_para_0', 'paragraph', NULL, 'Normal', 'Quarterly results improved.'),
        | ('memo', 'memo_para_1', 'section', 'Next Steps', 'Heading1', 'Next Steps'),
        | ('memo', 'memo_para_2', 'paragraph', NULL, 'Normal', 'Hire two engineers.')
        |) AS t(doc, chunk_id, chunk_type, section_title, style, content)""".stripMargin,
    "eml_extract" ->
      """SELECT * FROM (VALUES
        | ('simple', 'simple_headers', 'headers',
        |  'Subject: Policy renewal' || chr(10) || 'From: alice@example.com' || chr(10) ||
        |  'To: bob@example.com' || chr(10) || 'Date: Mon, 01 Jan 2024 10:00:00 +0000'),
        | ('simple', 'simple_body_1', 'paragraph',
        |  'Your insurance policy is due for renewal next month. Please review the terms.'),
        | ('simple', 'simple_body_2', 'paragraph',
        |  'Thanks from the renewals team at Example Insurance.'),
        | ('multi', 'multi_headers', 'headers',
        |  'Subject: Meeting notes' || chr(10) || 'From: carol@example.com' || chr(10) ||
        |  'To: dave@example.com' || chr(10) || 'Date: Tue, 02 Jan 2024 09:30:00 +0000'),
        | ('multi', 'multi_body_0', 'paragraph',
        |  'Café meeting confirmed for Tuesday at noon sharp.' || chr(10) ||
        |  'This is a base64 encoded paragraph body.')
        |) AS t(doc, chunk_id, chunk_type, content)""".stripMargin,
    "pdf_pages" ->
      """SELECT doc, page, content, length(content) AS n_chars FROM (VALUES
        | ('contract', 1, 'MASTER SERVICE AGREEMENT' || chr(10) ||
        |   'This agreement is made between the parties.'),
        | ('contract', 2, 'Termination requires thirty days notice.' || chr(10) ||
        |   'Signed by both parties.'),
        | ('invoice', 1, 'INVOICE 2024-001' || chr(10) ||
        |   'Billed to Example Corp for consulting services.' || chr(10) ||
        |   'Item      Qty   Price' || chr(10) ||
        |   'Widget    2     10.00' || chr(10) ||
        |   'Gadget    1     25.50' || chr(10) ||
        |   'Assembly  3     45.00' || chr(10) ||
        |   'Thank you for your business.'),
        | ('invoice', 2, 'PAYMENT TERMS' || chr(10) ||
        |   'Net thirty days from invoice date.' || chr(10) ||
        |   'Method    Fee' || chr(10) ||
        |   'Wire      0.00' || chr(10) ||
        |   'Card      3.50')
        |) AS t(doc, page, content)""".stripMargin,

    // hand-derived from DocFixtures.amendmentPages — the same text the
    // classic builder would emit, reached through xref stream + ObjStm,
    "pdf_pages_xrefstream" ->
      """SELECT doc, page, content, length(content) AS n_chars FROM (VALUES
        | ('amendment', 1, 'AMENDMENT NO 3' || chr(10) ||
        |   'Effective date is the first of March.'),
        | ('amendment', 2, 'Scope of changes.' || chr(10) ||
        |   'Payment terms move to net sixty days.'),
        | ('amendment', 3, 'Governing law stays unchanged.' || chr(10) ||
        |   'Signatures follow on the last page.')
        |) AS t(doc, page, content)""".stripMargin,

    // expectations hand-derived from DocFixtures.blogHtml under the
    // documented heuristics (Html.scala scaladoc); the garbage_html
    // member contributes no rows,
    "html_extract" ->
      """SELECT doc, title, block_idx, heading, content,
        |  length(content) AS n_chars FROM (VALUES
        | ('blog', 'Graft & the Web', 0, TRUE, 'Parsing at scale'),
        | ('blog', 'Graft & the Web', 1, FALSE,
        |  'Crawled HTML is the dominant raw format for training corpora, and boilerplate removal decides corpus quality.'),
        | ('blog', 'Graft & the Web', 2, FALSE,
        |  'Link density separates navigation chrome from prose: see the docs for the exact thresholds used here.'),
        | ('blog', 'Graft & the Web', 3, FALSE,
        |  'Entities decode: café & résumé stay readable.')
        |) AS t(doc, title, block_idx, heading, content)""".stripMargin,

    // hand-derived from DocFixtures.sitemapXml / sitemapIndexXml,
    // posts_gz = the SAME urlset gzip-compressed (sitemap.xml.gz): its
    // rows must be byte-identical to posts' after the sniff+inflate
    "sitemap_entries" ->
      """SELECT site, kind, loc, lastmod, priority_micro FROM (VALUES
        | ('posts', 'url', 'http://example.com/blog', '2026-01-15',
        |  CAST(800000 AS BIGINT)),
        | ('posts', 'url', 'http://example.com/about', CAST(NULL AS VARCHAR),
        |  CAST(NULL AS BIGINT)),
        | ('posts', 'url', 'http://example.com/search?q=a&lang=en', NULL, 250000),
        | ('posts_gz', 'url', 'http://example.com/blog', '2026-01-15', 800000),
        | ('posts_gz', 'url', 'http://example.com/about', NULL, NULL),
        | ('posts_gz', 'url', 'http://example.com/search?q=a&lang=en', NULL, 250000),
        | ('index', 'sitemap', 'http://example.com/sitemap-posts.xml',
        |  '2026-02-01', NULL),
        | ('index', 'sitemap', 'http://example.com/sitemap-pages.xml', NULL, NULL)
        |) AS t(site, kind, loc, lastmod, priority_micro)""".stripMargin,

    // hand-derived verdicts for the mini-site, one row per fetched
    // page: the hub and article3 fail the web filters (12-word pages:
    // gopher word floor, all-distinct-bigram 'repetitive' artifact,
    // single-sentence/no-punct C4; article3's word soup also has zero
    // language markers -> 'lang'), article4 quotes the benchmark
    // 4-gram — and since r19 ships CLIPPED (span removed, kept in
    // corpus) instead of dropped; dup.html is the exact text duplicate
    // of article1, and article2 (one word changed) reaches the corpus
    // gate with a CLEAN verdict but falls to its SimHash keeper — the
    // miss exact dedup cannot catch; article6 has NO inbound link and
    // reaches the corpus through the robots Sitemap: directive alone;
    // readme.md arrives through the markdown extractor route. The
    // robots-denied /private/ link, the mailto:, and the blocklisted
    // tracker link (RefinedWeb URL filter — dropped BEFORE the
    // frontier) never fetch; the ?utm_source twin and the sitemap's
    // article5 copy collapse in canonical space; the hub's '/' link
    // 404s and contributes nothing.
    // n_boiler_removed = 1 on every html page (the site-wide footer
    // line, stripped by the CCNet host-line stage; readme.md carries
    // no footer); n_chars are the post-repair post-NFC post-strip text
    // lengths — readme's 415 is independently re-derived (python
    // unicodedata: raw decomposed 416 -> NFC 415, the e + U+0301
    // composes), article5's 406 pins the MOJIBAKE stage (its corrupted
    // CafÃ© repairs to Café: unrepaired the page would read 407), and
    // article1 355 vs article2 356 pins the one-word edit
    // ('politely' -> 'carefully', +1 char).
    // near-dup keeper = smallest doc_id in the cluster; doc_id is the
    // url-hash key (xxhash64 over the host-stripped path — see
    // CrawlCorpus.run), so the {article1, article2, dup} cluster's
    // keeper is article2 (hash -8170...), not path-first article1.
    // Exact-dup rank is hash-ordered too: article1 (324...) still
    // precedes dup (8076...), so dup keeps the 'duplicate' reason.
    "crawl_corpus_e2e" ->
      """SELECT path, title, reasons, keep, near_dup_of, noindex, clipped,
        |  CAST(n_boiler_removed AS BIGINT) AS n_boiler_removed,
        |  CAST(n_chars AS BIGINT) AS n_chars, in_corpus FROM (VALUES
        | ('/article1.html', 'Polite crawling', '', TRUE,
        |  '/article2.html', FALSE, FALSE, 1, 355, FALSE),
        | ('/article2.html', 'Polite crawling again', '', TRUE,
        |  CAST(NULL AS VARCHAR), FALSE, FALSE, 1, 356, TRUE),
        | ('/article3.html', 'Fragments', 'lang,repetitive,gopher_quality,c4',
        |  FALSE, NULL, FALSE, FALSE, 1, 71, FALSE),
        | ('/article4.html', 'Benchmarks', 'contaminated', FALSE, NULL, FALSE,
        |  TRUE, 1, 320, TRUE),
        | ('/article5.html', 'Scaling the crawl', '', TRUE, NULL, FALSE,
        |  FALSE, 1, 406, TRUE),
        | ('/article6.html', 'Sitemap only', '', TRUE, NULL, FALSE,
        |  FALSE, 1, 305, TRUE),
        | ('/article7.html', 'Embargoed preview', '', TRUE, NULL, TRUE,
        |  FALSE, 1, 311, FALSE),
        | ('/dup.html', 'Mirror of polite crawling', 'duplicate', FALSE,
        |  '/article2.html', FALSE, FALSE, 1, 355, FALSE),
        | ('/readme.md', 'Graft crawl readme', '', TRUE, NULL, FALSE,
        |  FALSE, 0, 415, TRUE),
        | ('/site.html', 'Crawl Hub', 'repetitive,gopher_quality,c4',
        |  FALSE, NULL, FALSE, FALSE, 1, 72, FALSE)
        |) AS t(path, title, reasons, keep, near_dup_of, noindex, clipped,
        |  n_boiler_removed, n_chars, in_corpus)""".stripMargin,

    // the tree walk's expected leaves: the posts urlset verbatim plus
    // the gz child's two pages; the self-cycle, ftp: and 404 members
    // contribute nothing (absence IS the contract),
    "sitemap_tree" ->
      """SELECT sitemap, loc, lastmod, priority_micro FROM (VALUES
        | ('/sitemap-posts.xml', 'http://example.com/blog', '2026-01-15',
        |  CAST(800000 AS BIGINT)),
        | ('/sitemap-posts.xml', 'http://example.com/about', CAST(NULL AS VARCHAR),
        |  CAST(NULL AS BIGINT)),
        | ('/sitemap-posts.xml', 'http://example.com/search?q=a&lang=en',
        |  NULL, 250000),
        | ('/sitemap-pages.xml.gz', 'http://example.com/team', '2026-02-02', NULL),
        | ('/sitemap-pages.xml.gz', 'http://example.com/careers', NULL, 500000)
        |) AS t(sitemap, loc, lastmod, priority_micro)""".stripMargin,

    // expected verdicts re-derived from doc_id alone: %5 in (0, 2) is
    // allowed (no match; the press carve-out), everything else denied,
    "robots_filter" ->
      """SELECT doc_id,
        | CASE doc_id % 5
        |  WHEN 0 THEN '/articles/page' || doc_id
        |  WHEN 1 THEN '/private/data' || doc_id
        |  WHEN 2 THEN '/private/press/rel' || doc_id
        |  WHEN 3 THEN '/tmp/file' || doc_id
        |  ELSE '/tmpx' || doc_id END AS path,
        | doc_id % 5 IN (0, 2) AS allowed
        |FROM documents""".stripMargin,

    // hand-derived from DocFixtures.latin1Html / utf16Html,
    "html_charsets" ->
      """SELECT doc, title, block_idx, heading, content,
        |  length(content) AS n_chars FROM (VALUES
        | ('latin1', 'Café menu', 0, FALSE,
        |  'Un café crème et un pain au chocolat, s''il vous plaît.'),
        | ('utf16', 'Wide', 0, FALSE,
        |  'Sixteen-bit pages decode through the byte-order mark.')
        |) AS t(doc, title, block_idx, heading, content)""".stripMargin,

    // the WET contract re-derived from the SOURCE text: conversion
    // records carry the exact UTF-8 text bytes, so size and sha256
    // come straight off the documents table — a framing bug on either
    // side breaks the hash,
    "wet_roundtrip" ->
      """SELECT f.framing, 'http://ex.com/doc' || doc_id AS url,
        | 'conversion' AS rec_type, 'text/plain' AS content_type,
        | CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        | sha256(text) AS payload_sha
        |FROM documents
        |CROSS JOIN (VALUES ('plain'), ('gz')) f(framing)
        |WHERE doc_id < 200""".stripMargin,

    // expectations hand-derived from DocFixtures.crawlWarc: payload
    // lengths are the authored bodies' byte counts (the blog page is
    // 917 ASCII bytes); the gz twin must be byte-identical rows,
    "warc_records" ->
      """SELECT warc, rec_idx, rec_type, url, http_status, content_type,
        |  n_payload_bytes FROM (VALUES
        | (0, 'warcinfo', CAST(NULL AS VARCHAR), CAST(NULL AS INTEGER),
        |  CAST(NULL AS VARCHAR), 29),
        | (1, 'request', 'http://example.com/blog', NULL, NULL, 41),
        | (2, 'response', 'http://example.com/blog', 200,
        |  'text/html; charset=utf-8', 917),
        | (3, 'response', 'http://example.com/gone', 404, 'text/html', 35),
        | (4, 'response', 'http://example.com/report.pdf', 200,
        |  'application/pdf', 13)
        |) AS r(rec_idx, rec_type, url, http_status, content_type, n_payload_bytes)
        |CROSS JOIN (VALUES ('crawl'), ('crawl_gz')) AS w(warc)""".stripMargin,
    "warc_html_blocks" ->
      """SELECT warc, url, title, block_idx, heading, content,
        |  length(content) AS n_chars FROM (VALUES
        | (0, TRUE, 'Parsing at scale'),
        | (1, FALSE,
        |  'Crawled HTML is the dominant raw format for training corpora, and boilerplate removal decides corpus quality.'),
        | (2, FALSE,
        |  'Link density separates navigation chrome from prose: see the docs for the exact thresholds used here.'),
        | (3, FALSE,
        |  'Entities decode: café & résumé stay readable.')
        |) AS b(block_idx, heading, content)
        |CROSS JOIN (VALUES ('crawl'), ('crawl_gz')) AS w(warc)
        |CROSS JOIN (VALUES ('http://example.com/blog', 'Graft & the Web'))
        |  AS u(url, title)""".stripMargin,

    // DocFixtures.blogHtml's six anchors in document order; the
    // garbage page contributes no rows
    "html_links" ->
      """SELECT 'blog' AS doc, link_idx, href, anchor_text, FALSE AS nofollow
        |FROM (VALUES
        | (0, '/', 'Home'), (1, '/blog', 'Blog'), (2, '/about', 'About'),
        | (3, '/x', 'the docs'), (4, '/a', 'Ten more posts'),
        | (5, '/b', 'you might like')
        |) AS t(link_idx, href, anchor_text)""".stripMargin,

    // hand-derived from the route design (bytes replayed from the
    // staged files): 4 fetches (one via a redirect, one after a 429)
    // summing blog + 3x notes bytes; the loop fails fast at attempt 1;
    // the 404 burns the 3-attempt budget,
    "crawl_stats" ->
      raw"""WITH sz AS (SELECT
        | (SELECT CAST(size AS BIGINT) FROM read_blob('${urlStageDir}/blog.html')) AS blog,
        | (SELECT CAST(size AS BIGINT) FROM read_blob('${urlStageDir}/notes.txt')) AS notes)
        |SELECT host, outcome, n_urls, total_attempts,
        | CASE outcome WHEN 'fetched' THEN blog + 3 * notes
        |  ELSE CAST(0 AS BIGINT) END AS total_bytes,
        | total_redirects
        |FROM sz CROSS JOIN (VALUES
        | ('127.0.0.1', 'fetched', CAST(4 AS BIGINT), CAST(5 AS BIGINT),
        |  CAST(1 AS BIGINT)),
        | ('127.0.0.1', 'too_many_redirects', 1, 1, 0),
        | ('127.0.0.1', 'http_404', 1, 3, 0)
        |) AS t(host, outcome, n_urls, total_attempts, total_redirects)""".stripMargin,

    // every member slice stands alone and carries its declared bytes,
    "warc_cdx_slice" ->
      """SELECT '/article' || i || '.html' AS path, TRUE AS member_parses,
        | TRUE AS digest_matches
        |FROM (SELECT unnest(generate_series(1, 7)) AS i)""".stripMargin,

    // byte-exact replay of the staged article files: size and sha256
    // must survive fetch → WARC write → WARC read untouched,
    "warc_write_roundtrip" ->
      raw"""SELECT '/' || regexp_extract(filename, '([^/]+)$$', 1) AS path,
        | 'response' AS rec_type, 200 AS http_status,
        | CAST(size AS BIGINT) AS n_bytes,
        | lower(sha256(decode(content))) AS payload_sha
        |FROM read_blob('${urlStageDir}/article?.html')""".stripMargin,

    // hand-derived from the hub's link list: the plain and ?utm links
    // to article1 collapse in canonical space carrying both labels
    // (sorted, pipe-joined); mailto: drops at the scheme gate; the
    // robots-denied /private/ target KEEPS its label (the signal
    // describes the target, fetched or not),
    "anchor_texts" ->
      """SELECT target_path, CAST(n_refs AS BIGINT) AS n_refs, labels FROM (VALUES
        | ('/', 1, 'Home'),
        | ('/article1.html', 2, 'Feed twin|Parsing'),
        | ('/article2.html', 1, 'Parsing again'),
        | ('/article3.html', 1, 'Fragments'),
        | ('/article4.html', 1, 'Benchmarks'),
        | ('/article5.html', 1, 'Scaling'),
        | ('/article7.html', 1, 'Preview'),
        | ('/dup.html', 1, 'Mirror'),
        | ('/pix.gif', 1, 'Partner'),
        | ('/private/secret.html', 1, 'Secret'),
        | ('/readme.md', 1, 'Readme')
        |) AS t(target_path, n_refs, labels)""".stripMargin,

    // hand-derived from the chain design: depth = BFS distance from the
    // seed; d sits at depth 3 behind the cap; the b → a cycle edge adds
    // no row,
    "crawl_bfs" ->
      """SELECT path, depth, fetched FROM (VALUES
        | ('/bfs-a.html', 0, TRUE),
        | ('/bfs-b.html', 1, TRUE),
        | ('/bfs-c.html', 2, TRUE)
        |) AS t(path, depth, fetched)""".stripMargin,

    // hand-derived: the twins' declared canonicals normalize to ONE key
    // (case + utm strip — the canonicalizer applies to declarations
    // too); undeclared pages key on their own URL,
    "canonical_dedup" ->
      """SELECT crawl_key, CAST(n_pages AS BIGINT) AS n_pages, keeper, docs FROM (VALUES
        | ('https://example.com/stories/one-story', 2, 'story_amp',
        |  'story_amp,story_mobile'),
        | ('https://example.com/the-one-true-url', 1, 'directives', 'directives'),
        | ('http://site.local/none_token', 1, 'none_token', 'none_token'),
        | ('http://site.local/plain', 1, 'plain', 'plain')
        |) AS t(crawl_key, n_pages, keeper, docs)""".stripMargin,

    // hand-derived per fixture page: first canonical wins (the second
    // declaration and the data-rel decoy are ignored), 'none' implies
    // both verdicts, the robots-custom meta name must not match,
    "html_directives" ->
      """SELECT doc, canonical, noindex, nofollow FROM (VALUES
        | ('directives', 'https://example.com/the-one-true-url', TRUE, TRUE),
        | ('none_token', '', TRUE, TRUE),
        | ('plain', '', FALSE, FALSE)
        |) AS t(doc, canonical, noindex, nofollow)""".stripMargin,

    // hand-derived: the blog page's six root-relative links resolve
    // against http://example.com/blog, canonicalize to one per path,
    // collapse across the plain/gz WARC twins, all pass the graftbot
    // robots rules, and the ≤5-per-host budget drops the url-order
    // last ('/x'); ranks follow bytewise url order at equal priority
    "crawl_discover" ->
      """SELECT 'http://example.com' || p AS url, CAST(0 AS BIGINT) AS priority_micro,
        |  'example.com' AS host, fetch_rank,
        |  (fetch_rank - 1) * 2 AS fetch_tick_sec FROM (VALUES
        | ('/', 1), ('/a', 2), ('/about', 3), ('/b', 4), ('/blog', 5)
        |) AS t(p, fetch_rank)""".stripMargin,

    // the blog page's four blocks under its served path; the robots-
    // denied and 404 seeds contribute no rows (absence IS the contract)
    "crawl_fetch_e2e" ->
      """SELECT '/blog.html' AS path, 'Graft & the Web' AS title,
        |  block_idx, heading, content, length(content) AS n_chars FROM (VALUES
        | (0, TRUE, 'Parsing at scale'),
        | (1, FALSE,
        |  'Crawled HTML is the dominant raw format for training corpora, and boilerplate removal decides corpus quality.'),
        | (2, FALSE,
        |  'Link density separates navigation chrome from prose: see the docs for the exact thresholds used here.'),
        | (3, FALSE,
        |  'Entities decode: café & résumé stay readable.')
        |) AS b(block_idx, heading, content)""".stripMargin,

    // hand-derived from the route design: the /redir chain's hop count
    // and final target, the self-loop's fail-fast at the hop cap
    // (attempt 1 — a cycle is fatal, not retryable), the throttled
    // page's exactly-two attempts (429 + Retry-After, then 200),
    "crawl_http_edges" ->
      """SELECT path, final_path, redirects, attempts, fetched, error, x_robots
        |FROM (VALUES
        | ('/blog.html', '/blog.html', 0, 1, TRUE, '', ''),
        | ('/redir/1/notes.txt', '/notes.txt', 1, 1, TRUE, '', ''),
        | ('/redir/2/blog.html', '/blog.html', 2, 1, TRUE, '', ''),
        | ('/redirloop/a', '/redirloop/a', 0, 1, FALSE,
        |  'download_failed_after_1_attempts:too_many_redirects', ''),
        | ('/throttle/notes.txt', '/throttle/notes.txt', 0, 2, TRUE, '', ''),
        | ('/gzbody/blog.html', '/gzbody/blog.html', 0, 1, TRUE, '', ''),
        | ('/xnoindex/notes.txt', '/xnoindex/notes.txt', 0, 1, TRUE, '', 'noindex')
        |) AS t(path, final_path, redirects, attempts, fetched, error, x_robots)""".stripMargin,

    // hand-derived from the two-cycle feed: batch 0 first-crawls both
    // pages (the duplicate due-mark must NOT add a row — 4 rows total
    // is the collapse proof); batch 1 re-fetches only the page that
    // changed on disk, the unchanged one 304s,
    "recrawl_stream_e2e" ->
      """SELECT batch_id, path, not_modified, refetched, attempts, has_etag FROM (VALUES
        | (0, '/recrawl-page.html', FALSE, TRUE, 1, TRUE),
        | (0, '/notes.txt', FALSE, TRUE, 1, TRUE),
        | (1, '/recrawl-page.html', FALSE, TRUE, 1, TRUE),
        | (1, '/notes.txt', TRUE, FALSE, 1, TRUE)
        |) AS t(batch_id, path, not_modified, refetched, attempts, has_etag)""".stripMargin,

    // the conditional-GET contract: matching validator -> 304, no
    // body, etag kept; stale validator -> 200 re-fetch with the
    // current etag,
    "crawl_revisit" ->
      """SELECT path, kind, not_modified, body_returned, has_etag FROM (VALUES
        | ('/blog.html', 'revalidate', TRUE, FALSE, TRUE),
        | ('/notes.txt', 'revalidate', TRUE, FALSE, TRUE),
        | ('/blog.html', 'changed', FALSE, TRUE, TRUE),
        | ('/blog.html', 'lm_only', TRUE, FALSE, FALSE)
        |) AS t(path, kind, not_modified, body_returned, has_etag)""".stripMargin,

    // the adaptive-revisit policy re-derived independently: history
    // regenerated from doc_id, change-rate/interval in exact integer
    // micro math (DuckDB // == Spark floor-div over these magnitudes),
    "recrawl_schedule" ->
      """WITH h AS (
        | SELECT 'http://h' || (doc_id % 5) || '.example.com/p' || doc_id AS url,
        |        1000 * g.cycle AS fetch_ts_sec,
        |        (doc_id + g.cycle) % 3 = 0 AS changed
        | FROM documents,
        |   LATERAL (SELECT unnest(generate_series(1, 1 + doc_id % 4)) AS cycle) g),
        |a AS (
        | SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
        |        CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
        |        CAST(max(fetch_ts_sec) AS BIGINT) AS last_fetch_sec
        | FROM h GROUP BY url),
        |r AS (SELECT *, n_changes * 1000000 // n_fetches AS change_rate_micro FROM a),
        |i AS (SELECT *, 500 + (4500 * (1000000 - change_rate_micro)) // 1000000
        |        AS interval_sec FROM r),
        |n AS (SELECT *, last_fetch_sec + interval_sec AS next_due_sec FROM i)
        |SELECT url, n_fetches, n_changes, last_fetch_sec, change_rate_micro,
        |  interval_sec, next_due_sec, next_due_sec <= 6500 AS due,
        |  CASE WHEN next_due_sec <= 6500
        |       THEN 6500 - next_due_sec ELSE CAST(0 AS BIGINT) END AS overdue_sec
        |FROM n""".stripMargin,
    "recrawl_due" ->
      """WITH h AS (
        | SELECT 'http://h' || (doc_id % 5) || '.example.com/p' || doc_id AS url,
        |        1000 * g.cycle AS fetch_ts_sec,
        |        (doc_id + g.cycle) % 3 = 0 AS changed
        | FROM documents,
        |   LATERAL (SELECT unnest(generate_series(1, 1 + doc_id % 4)) AS cycle) g),
        |a AS (
        | SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
        |        CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
        |        CAST(max(fetch_ts_sec) AS BIGINT) AS last_fetch_sec
        | FROM h GROUP BY url),
        |r AS (SELECT *, n_changes * 1000000 // n_fetches AS change_rate_micro FROM a),
        |i AS (SELECT *, 500 + (4500 * (1000000 - change_rate_micro)) // 1000000
        |        AS interval_sec FROM r),
        |n AS (SELECT *, last_fetch_sec + interval_sec AS next_due_sec FROM i)
        |SELECT url, n_fetches, change_rate_micro, next_due_sec,
        |  6500 - next_due_sec AS overdue_sec
        |FROM n WHERE next_due_sec <= 6500
        |ORDER BY overdue_sec DESC, url ASC LIMIT 12""".stripMargin,

    // the unified due set re-derived: observed leg = the recrawl_due
    // derivation; declared leg = the sitemap_staleness day rule over
    // the disagree fixture; full-outer on url, stalest-first top-150
    // (declared-only urls floor at overdue 0 — listed, so due, but no
    // staleness evidence to jump the queue on),
    "recrawl_due_unified" ->
      """WITH h AS (
        | SELECT 'http://h' || (doc_id % 5) || '.example.com/p' || doc_id AS url,
        |        1000 * g.cycle AS fetch_ts_sec,
        |        (doc_id + g.cycle) % 3 = 0 AS changed
        | FROM documents,
        |   LATERAL (SELECT unnest(generate_series(1, 1 + doc_id % 4)) AS cycle) g),
        |a AS (
        | SELECT url, CAST(count(*) AS BIGINT) AS n_fetches,
        |        CAST(sum(CASE WHEN changed THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
        |        CAST(max(fetch_ts_sec) AS BIGINT) AS last_fetch_sec
        | FROM h GROUP BY url),
        |n AS (SELECT url, last_fetch_sec +
        |        (500 + (4500 * (1000000 - n_changes * 1000000 // n_fetches))
        |          // 1000000) AS next_due_sec FROM a),
        |obs AS (SELECT url, CAST(6500 - next_due_sec AS BIGINT) AS overdue_obs
        |        FROM n WHERE next_due_sec <= 6500),
        |e AS (
        | SELECT 'http://h' || (doc_id % 5) || '.example.com/p' || doc_id AS url,
        |        CASE WHEN doc_id % 6 = 0 THEN 86400 ELSE 0 END AS lastmod_sec
        | FROM documents WHERE doc_id % 3 = 0
        | UNION ALL
        | SELECT 'http://h' || (doc_id % 5) || '.example.com/new' || doc_id,
        |        172800
        | FROM documents WHERE doc_id % 11 = 0),
        |ee AS (SELECT url, CAST(max(lastmod_sec) AS BIGINT) AS lastmod_sec
        |       FROM e GROUP BY url),
        |l AS (SELECT url, CAST(max(fetch_ts_sec) AS BIGINT) AS last_fetch_sec
        |      FROM h GROUP BY url),
        |dec AS (
        | SELECT ee.url,
        |   CASE WHEN l.url IS NULL THEN 'new'
        |        WHEN lastmod_sec > last_fetch_sec - last_fetch_sec % 86400
        |         THEN 'updated' ELSE 'fresh' END AS reason,
        |   GREATEST(CAST(0 AS BIGINT),
        |     CAST(6500 - lastmod_sec AS BIGINT)) AS overdue_dec
        | FROM ee LEFT JOIN l ON ee.url = l.url),
        |decd AS (SELECT * FROM dec WHERE reason <> 'fresh')
        |SELECT url,
        |  overdue_obs IS NOT NULL AS due_observed,
        |  reason IS NOT NULL AS due_declared,
        |  CASE WHEN overdue_obs IS NOT NULL AND reason = 'updated'
        |        THEN 'overdue,sitemap_updated'
        |       WHEN overdue_obs IS NOT NULL THEN 'overdue'
        |       WHEN reason = 'new' THEN 'sitemap_new'
        |       ELSE 'sitemap_updated' END AS reasons,
        |  GREATEST(COALESCE(overdue_obs, 0), COALESCE(overdue_dec, 0))
        |    AS overdue_sec
        |FROM obs FULL OUTER JOIN decd USING (url)
        |ORDER BY overdue_sec DESC, url ASC LIMIT 150""".stripMargin,

    "nfc_normalize" ->
      """WITH u AS (
        | SELECT doc_id, CASE doc_id % 4
        |  WHEN 0 THEN 'Cafe' || chr(769) || ' menu ' || doc_id
        |  WHEN 1 THEN 'Caf' || chr(233) || ' menu ' || doc_id
        |  WHEN 2 THEN 'na' || chr(305) || chr(776) || 've ' || doc_id
        |  ELSE 'plain ascii ' || doc_id END AS raw
        | FROM documents)
        |SELECT doc_id, raw, nfc_normalize(raw) AS nfc,
        |  nfc_normalize(raw) <> raw AS changed,
        |  length(raw) AS len_raw, length(nfc_normalize(raw)) AS len_nfc
        |FROM u""".stripMargin,

    "sitemap_staleness" ->
      """WITH e AS (
        | SELECT 'http://h' || (doc_id % 5) || '.example.com/p' || doc_id AS url,
        |  CASE WHEN doc_id % 7 = 6 THEN NULL
        |       ELSE date_diff('day', DATE '1970-01-01',
        |         CAST('2026-01-' || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
        |           AS DATE)) * 86400 END AS lastmod_sec
        | FROM documents),
        |ee AS (SELECT url, CAST(max(lastmod_sec) AS BIGINT) AS lastmod_sec
        |       FROM e GROUP BY url),
        |l AS (SELECT 'http://h' || (doc_id % 5) || '.example.com/p' || doc_id AS url,
        |      CAST(max(1768435200 + doc_id % 1000) AS BIGINT) AS last_fetch_sec
        |      FROM documents WHERE doc_id % 3 = 0 GROUP BY 1)
        |SELECT ee.url, lastmod_sec, last_fetch_sec,
        | CASE WHEN last_fetch_sec IS NULL THEN 'new'
        |      WHEN lastmod_sec > last_fetch_sec - last_fetch_sec % 86400
        |       THEN 'updated' ELSE 'fresh' END AS reason,
        | CASE WHEN last_fetch_sec IS NULL THEN true
        |      WHEN lastmod_sec > last_fetch_sec - last_fetch_sec % 86400
        |       THEN true ELSE false END AS due
        |FROM ee LEFT JOIN l USING (url)""".stripMargin,

    "url_filter" ->
      ("""WITH u AS (
        | SELECT CASE doc_id % 7
        |   WHEN 0 THEN 'spamcasino.com' WHEN 1 THEN 'sub.badsite.org'
        |   WHEN 2 THEN 'news.example.com' WHEN 3 THEN 'blog.example.co.uk'
        |   WHEN 4 THEN '1234567.net' WHEN 5 THEN 'shop.example.com'
        |   ELSE 'example.net' END AS host,
        |  'http://' ||
        |   CASE doc_id % 7
        |    WHEN 0 THEN 'spamcasino.com' WHEN 1 THEN 'sub.badsite.org'
        |    WHEN 2 THEN 'news.example.com' WHEN 3 THEN 'blog.example.co.uk'
        |    WHEN 4 THEN '1234567.net' WHEN 5 THEN 'shop.example.com'
        |    ELSE 'example.net' END ||
        |   '/p' || doc_id ||
        |   CASE WHEN doc_id % 11 = 0 THEN '/freexxx' ELSE '' END ||
        |   CASE WHEN doc_id % 13 = 0 THEN '/' || repeat('x', 600) ELSE '' END
        |   AS url
        | FROM documents),
        |f AS (
        | SELECT url, host,
        |  CASE WHEN len(string_split(host, '.')) >= 3 AND
        |         string_split(host, '.')[len(string_split(host, '.')) - 1]
        |           IN ('co','com','org','net','ac','gov','edu')
        |       THEN array_to_string(
        |         string_split(host, '.')[len(string_split(host, '.')) - 2:], '.')
        |       WHEN len(string_split(host, '.')) >= 2
        |       THEN array_to_string(
        |         string_split(host, '.')[len(string_split(host, '.')) - 1:], '.')
        |       ELSE host END AS domain,
        |  CAST((length(lower(url)) - length(replace(lower(url), 'xxx', ''))) // 3 * 2
        |   + (length(lower(url)) - length(replace(lower(url), 'casino', ''))) // 6
        |   AS BIGINT) AS bad_word_score,
        |  length(regexp_replace(host, '[^0-9]', '', 'g')) AS n_digits,
        |  length(url) AS ulen
        | FROM u)
        |SELECT url, host, domain, bad_word_score,
        |  concat_ws(',',
        |   CASE WHEN domain IN ('spamcasino.com', 'badsite.org')
        |        THEN 'blocked' END,
        |   CASE WHEN bad_word_score >= 2 THEN 'bad_words' END,
        |   CASE WHEN n_digits * 2 >= length(host) AND length(host) > 0
        |        THEN 'digits' END,
        |   CASE WHEN ulen > 512 THEN 'too_long' END) AS reasons,
        |  domain NOT IN ('spamcasino.com', 'badsite.org')
        |   AND bad_word_score < 2
        |   AND NOT (n_digits * 2 >= length(host) AND length(host) > 0)
        |   AND ulen <= 512 AS keep
        |FROM f""".stripMargin),

    "host_line_dedup" ->
      """WITH pages AS (
        | SELECT doc_id, 'h' || (doc_id % 5) AS host,
        |   'Home | About | Contact' || chr(10) || text || chr(10) ||
        |   '(c) site h' || (doc_id % 5) AS text
        | FROM documents),
        |lines AS (
        | SELECT doc_id, host, g.i - 1 AS pos, parts[g.i] AS line,
        |        trim(parts[g.i]) AS key
        | FROM (SELECT doc_id, host, string_split(text, chr(10)) AS parts
        |       FROM pages) p,
        |   LATERAL (SELECT unnest(generate_series(1, len(parts))) AS i) g),
        |hd AS (SELECT host, count(DISTINCT doc_id) AS n_docs
        |       FROM pages GROUP BY host),
        |b AS (
        | SELECT l.host, l.key FROM
        |  (SELECT host, key, count(DISTINCT doc_id) AS n_line_docs
        |   FROM lines WHERE key <> '' GROUP BY host, key) l
        |  JOIN hd USING (host)
        | WHERE n_docs >= 2 AND n_line_docs >= 2
        |   AND n_line_docs * 1000000 >= 500000 * n_docs)
        |SELECT doc_id, min(lines.host) AS host,
        |  CAST(count(*) AS BIGINT) AS n_lines,
        |  CAST(sum(CASE WHEN b.key IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_removed,
        |  COALESCE(string_agg(CASE WHEN b.key IS NULL THEN line END,
        |    chr(10) ORDER BY pos), '') AS clean_text
        |FROM lines LEFT JOIN b
        |  ON lines.host = b.host AND lines.key = b.key
        |GROUP BY doc_id""".stripMargin,

    // the crawl-loop feedback edge re-derived: the Gopher quality pass
    // (the SAME counter formulas as the gopher_quality/clean_corpus
    // oracles) joined to the doc_id-derived domain shapes, aggregated
    // to per-domain keep rates; blocked = >= 3 pages AND < 45%,
    "host_reputation" ->
      s"""WITH p AS (
        | SELECT doc_id, text
        |   || CASE WHEN doc_id % 4 = 0 THEN chr(10) || '- a bullet item'
        |        || chr(10) || '- another bullet item' ELSE '' END
        |   || CASE WHEN doc_id % 6 = 0 THEN chr(10) || 'the story continues...'
        |        ELSE '' END
        |   || CASE WHEN doc_id % 3 <> 0
        |        THEN chr(10) || 'that view of the data shall be joined with care.'
        |        ELSE '' END AS text
        | FROM documents),
        |gq AS (SELECT doc_id,
         |  (n_words BETWEEN 50 AND 100000
         |   AND non_ws * 1000000 // n_words BETWEEN 3000000 AND 10000000
         |   AND symbols * 1000000 // n_words <= 100000
         |   AND bullets * 1000000 // n_lines <= 900000
         |   AND ell_ends * 1000000 // n_lines <= 300000
         |   AND alpha_words * 1000000 // n_words >= 800000
         |   AND n_stop >= 2) AS keep
         | FROM (SELECT doc_id,
         |  len(regexp_split_to_array(trim(text), '\\s+')) AS n_words,
         |  len(regexp_split_to_array(text, chr(10))) AS n_lines,
         |  length(regexp_replace(text, '\\s+', '', 'g')) AS non_ws,
         |  len(regexp_extract_all(text, '(?m)^\\s*[-*]')) AS bullets,
         |  len(regexp_extract_all(text, '(?m)\\.\\.\\.$$')) AS ell_ends,
         |  len(regexp_extract_all(text, '#'))
         |    + len(regexp_extract_all(text, '\\.\\.\\.')) AS symbols,
         |  len(regexp_extract_all(text, '(^|\\s)[^\\s]*[A-Za-z]')) AS alpha_words,
         |  (CASE WHEN position(' the '  IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
         |   + CASE WHEN position(' be '   IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
         |   + CASE WHEN position(' to '   IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
         |   + CASE WHEN position(' of '   IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
         |   + CASE WHEN position(' and '  IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
         |   + CASE WHEN position(' that ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
         |   + CASE WHEN position(' have ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END
         |   + CASE WHEN position(' with ' IN ' ' || lower(text) || ' ') > 0 THEN 1 ELSE 0 END)
         |    AS n_stop
         | FROM p) gm),
        |d AS (SELECT doc_id,
        |  CASE WHEN doc_id % 2 = 0 THEN 'site' || (doc_id % 23) || '.com'
        |       ELSE 'site' || (doc_id % 23) || '.co.uk' END AS domain
        | FROM documents)
        |SELECT domain, CAST(count(*) AS BIGINT) AS n_pages,
        | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) AS BIGINT) AS n_keep,
        | CAST(sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000 // count(*)
        |   AS BIGINT) AS keep_rate_micro,
        | (count(*) >= 3 AND
        |  sum(CASE WHEN keep THEN 1 ELSE 0 END) * 1000000 // count(*) < 450000)
        |  AS blocked
        |FROM d JOIN gq USING (doc_id)
        |GROUP BY domain""".stripMargin,

    // hand-derived from the two-batch feed: batch 0 ranks a's p1>p2 by
    // priority and b's q1; batch 1 leaves host a ONE remaining slot
    // (budget 3) which p3 wins on priority, p4 drops; q2 takes b's
    // rank 2. Ticks are per-host: a.com spaces by the global 2 s,
    // b.com by ITS OWN robots delay of 7 s
    "frontier_stream_e2e" ->
      """SELECT host, url, priority_micro, fetch_rank,
        |  CAST((fetch_rank - 1) *
        |    CASE host WHEN 'b.com' THEN 7 ELSE 2 END AS BIGINT)
        |    AS fetch_tick_sec FROM (VALUES
        | ('a.com', 'http://a.com/p1', CAST(900000 AS BIGINT), 1),
        | ('a.com', 'http://a.com/p2', 100000, 2),
        | ('a.com', 'http://a.com/p3', 800000, 3),
        | ('b.com', 'http://b.com/q1', 500000, 1),
        | ('b.com', 'http://b.com/q2', 250000, 2)
        |) AS t(host, url, priority_micro, fetch_rank)""".stripMargin,

    // the streamed crawl's final corpus table: the SAME blocks as
    // warc_html_blocks but ONE copy per page — the gz re-crawl batch and
    // the replayed batch both collapse into the first copy under the
    // fp-keyed LWW upsert,
    // the blog page keys on its own url (no declared canonical); the
    // two twins collapse onto the SAME canonical crawl key, and LWW
    // keeps the later micro-batch's rendering (desktop, fetched from
    // m.example.com) — one story row, not two,
    "crawl_stream_e2e" ->
      """SELECT url, crawl_key, block_idx, heading, content,
        |  length(content) AS n_chars FROM (VALUES
        | ('http://example.com/blog', 'http://example.com/blog', 0, TRUE,
        |  'Parsing at scale'),
        | ('http://example.com/blog', 'http://example.com/blog', 1, FALSE,
        |  'Crawled HTML is the dominant raw format for training corpora, and boilerplate removal decides corpus quality.'),
        | ('http://example.com/blog', 'http://example.com/blog', 2, FALSE,
        |  'Link density separates navigation chrome from prose: see the docs for the exact thresholds used here.'),
        | ('http://example.com/blog', 'http://example.com/blog', 3, FALSE,
        |  'Entities decode: café & résumé stay readable.'),
        | ('http://m.example.com/story', 'https://example.com/stories/one-story',
        |  0, FALSE,
        |  'The full desktop rendering of the story body with extras.')
        |) AS b(url, crawl_key, block_idx, heading, content)""".stripMargin,

    // frontier re-derived from doc_id alone: %5=1 rows are the robots-
    // denied /private/ paths; the canonical URL and host re-derive by
    // string construction (lowercased, port stripped, fragment gone);
    // the politeness budget is the same rank-limit window in DuckDB.
    // Ticks are PER-HOST: host0 published Crawl-delay 5, host3 a legal
    // 0, everyone else takes the global 2,
    "crawl_frontier" ->
      """WITH f AS (
        | SELECT 'http://host' || (doc_id % 7) || '.example.com/articles/page'
        |          || doc_id AS url,
        |        (doc_id % 10) * 100000 AS priority_micro,
        |        'host' || (doc_id % 7) || '.example.com' AS host,
        |        CASE doc_id % 7 WHEN 0 THEN 5 WHEN 3 THEN 0 ELSE 2 END AS delay
        | FROM documents WHERE doc_id % 5 <> 1)
        |SELECT url, priority_micro, host, fetch_rank,
        |  (fetch_rank - 1) * delay AS fetch_tick_sec FROM (
        | SELECT *, row_number() OVER (
        |   PARTITION BY host ORDER BY priority_micro DESC, url) AS fetch_rank
        | FROM f) t WHERE fetch_rank <= 5""".stripMargin,

    // the canonical form re-derived from doc_id alone — an independent
    // derivation, not a replay of the engine's string surgery,
    "url_canonical" ->
      """SELECT doc_id,
        | 'HTTPS://ExAmple.COM:443/Docs/page' || doc_id ||
        |   CASE WHEN doc_id % 4 = 0 THEN '/' ELSE '' END ||
        |   '?utm_source=news' ||
        |   CASE WHEN doc_id % 4 <> 0
        |        THEN '&z=' || (doc_id % 3) || '&a=' || (doc_id % 5) ELSE '' END ||
        |   '#sec' || (doc_id % 2) AS url,
        | 'https://example.com/Docs/page' || doc_id ||
        |   CASE WHEN doc_id % 4 <> 0
        |        THEN '?a=' || (doc_id % 5) || '&z=' || (doc_id % 3) ELSE '' END
        |   AS canonical_url
        |FROM documents""".stripMargin,

    // expectations = DocFixtures.cidPages verbatim (the CMap is the only
    // route from the fixture's arbitrary codes back to this text),
    "pdf_pages_cid" ->
      """SELECT doc, page, content, length(content) AS n_chars FROM (VALUES
        | ('treaty', 1, 'TREATY OF AMITY' || chr(10) ||
        |   'An efficient xyz protocol governs here.'),
        | ('treaty', 2, 'Ratified by both parties in good faith.' || chr(10) ||
        |   'Signatures follow on the final page.')
        |) AS t(doc, page, content)""".stripMargin,

    // S5-lite expectations hand-derived from DocFixtures.invoicePages
    // (the contract fixture's prose pages must yield NO tables),
    "pdf_tables" ->
      """SELECT * FROM (VALUES
        | ('invoice', 1, 0, '["Item","Qty","Price"]',
        |  '[["Widget","2","10.00"],["Gadget","1","25.50"],["Assembly","3","45.00"]]'),
        | ('invoice', 2, 0, '["Method","Fee"]',
        |  '[["Wire","0.00"],["Card","3.50"]]')
        |) AS t(doc, page, table_idx, headers_json, rows_json)""".stripMargin,
    "c3_table_text" ->
      """SELECT * FROM (VALUES
        | ('policy', 'docx', 0, 0, 'Item | Limit' || chr(10) ||
        |   'Laptop | 1000' || chr(10) || 'Phone | 500'),
        | ('invoice', 'pdf', 1, 0, 'Item | Qty | Price' || chr(10) ||
        |   'Widget | 2 | 10.00' || chr(10) || 'Gadget | 1 | 25.50' || chr(10) ||
        |   'Assembly | 3 | 45.00'),
        | ('invoice', 'pdf', 2, 0, 'Method | Fee' || chr(10) ||
        |   'Wire | 0.00' || chr(10) || 'Card | 3.50')
        |) AS t(doc, source, page, table_idx, content)""".stripMargin,

    // error codes: NULL = valid, 'encrypted' = password-protected PDF
    // (counted, not silently absent), 'parse_failed' = everything else,
    "doc_validate" ->
      """SELECT * FROM (VALUES
        | ('policy', 'docx', true, CAST(NULL AS VARCHAR)),
        | ('memo', 'docx', true, NULL),
        | ('simple', 'eml', true, NULL), ('multi', 'eml', true, NULL),
        | ('contract', 'pdf', true, NULL), ('invoice', 'pdf', true, NULL),
        | ('locked', 'pdf', false, 'encrypted'),
        | ('garbage_docx', 'docx', false, 'parse_failed'),
        | ('garbage_pdf', 'pdf', false, 'parse_failed')
        |) AS t(doc, fmt, is_valid, error)""".stripMargin,
  )
}
