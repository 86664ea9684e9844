package graft

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.{IvfIndex, Tables}
import graft.operators._

/** The named drill legs of [[Tool]]. Each leg builds its inputs, then
  * hands every frame it measures to [[Harness.time]]; the rows it
  * prints say where a flagship chain or a ladder spends its time.
  *
  * Ladder legs (synthetic inputs) take their row counts from
  * [[Harness.size]]: the base size below times `--scale`, so a decade
  * ladder is three runs at `--scale 1`, `10` and `100`.
  */
object Legs {
  val all: Map[String, Harness => Unit] = Map(
    "golden" -> golden, "curation" -> curation,
    "crawl_corpus" -> crawlCorpus, "crawl_extract" -> crawlExtract,
    "hotfp" -> hotFp, "quality" -> quality,
    "embed" -> (h => embed(h, uncapped = false)),
    "embed_uncapped" -> (h => embed(h, uncapped = true)),
    "media" -> media, "media_uncapped" -> mediaUncapped,
    "bfs" -> (h => bfs(h, deep = false)), "bfs_deep" -> (h => bfs(h, deep = true)),
    "crawl_html" -> crawlHtml, "crawl_warc" -> crawlWarc, "warc_write" -> warcWrite,
    "lm_split" -> lmSplit, "lm_clean" -> lmClean, "ivf" -> ivf)

  /** The golden_e2e spine leg by leg: chunking, the tf-idf cosine
    * ranker, BM25, their fusion, then the full query. At the bench SF
    * its cost is per-stage scheduling floor, so the stage count is what
    * a structural change must move. */
  private def golden(h: Harness): Unit = {
    import h.spark.implicits._
    val qs = Retrieval.goldenQuestions.zipWithIndex
      .map { case (q, i) => (i, q) }.toDF("question_id", "question")
    def chunks = Chunking.paragraphChunks(Tables.documents(h.spark, h.sfDir), minChars = 20)
      .select(col("chunk_id"), col("content").as("text"))
    def vector = Retrieval.tfidfCosineSearch(qs, chunks, k = 10, idCol = "chunk_id")
    def lexical = Retrieval.bm25Search(qs, chunks, k = 10, idCol = "chunk_id")
    h.time("chunks")(chunks)
    h.time("vector")(vector)
    h.time("lexical")(lexical)
    h.time("fused")(Retrieval.rrfFuse(vector, lexical, k = 3, idCol = "chunk_id"))
    h.time("full")(SparkEntry.queries("golden_e2e")(h.spark, h.sfDir))
  }

  /** The curation_e2e spine in CCNet order: paragraph dedup, LM fit on
    * the deduped text, perplexity terciles, the verdict without and
    * with the perplexity reason, then the full query. The LM and later
    * rows read a pinned deduped corpus, so they time their own stage. */
  private def curation(h: Harness): Unit = {
    val docs = Tables.documents(h.spark, h.sfDir)
    val decorated = docs.select(col("doc_id"), col("lang"),
      concat(col("text"),
        lit("\n\npromo p"), (col("doc_id") % 7).cast("string"),
        lit(" offer of the week."),
        lit("\n\nShare and subscribe today.")).as("text"))
    def deduped = Cleaning.paragraphDedup(decorated)
      .select(col("doc_id"), col("clean_text").as("text"))
      .join(docs.select("doc_id", "lang"), "doc_id")
    h.time("para_dedup")(deduped)
    val d2 = deduped.localCheckpoint()
    val lm = TextAnalysis.trainUnigramLm(d2)
    h.time("lm_fit")(lm)
    h.time("ppl_buckets")(TextAnalysis.assignPerplexityBuckets(d2, lm,
      TextAnalysis.perplexityThresholds(d2, lm)))
    val bench = d2.filter(col("doc_id") % 25 === 0)
      .select(col("doc_id").as("bench_id"), col("text"))
    val langs = Seq("en", "de", "fr", "es", "pt")
    h.time("verdict_no_ppl")(Cleaning.cleanCorpus(d2, bench,
      langWhitelist = langs, withGopherC4 = false))
    h.time("verdict_ppl") {
      val lmv = TextAnalysis.trainUnigramLm(d2)
      Cleaning.cleanCorpus(d2, bench, langWhitelist = langs, withGopherC4 = false,
        lm = Some(lmv), pplBuckets = Some(TextAnalysis.assignPerplexityBuckets(d2, lmv,
          TextAnalysis.perplexityThresholds(d2, lmv)).select(col("doc_id"), col("bucket"))))
    }
    h.time("full")(SparkEntry.queries("curation_e2e")(h.spark, h.sfDir))
  }

  private def crawlSeeds(spark: SparkSession): (DataFrame, UrlOps.RobotsRules) = {
    import spark.implicits._
    val base = UrlIngest.crawlSiteBase
    (Seq(s"$base/site.html").toDF("url"), CrawlCorpus.siteRules(base))
  }

  /** The crawl_corpus_e2e chain stage by stage over the loopback
    * fixture site. It is fixture-sized, so its cost is stage floors;
    * the rows say which stage owns them. `urlfilter` minus `discover`
    * is the blocklist stage's own cost. */
  private def crawlCorpus(h: Harness): Unit = {
    val spark = h.spark
    val (seeds, rules) = crawlSeeds(spark)
    val blocked = CrawlCorpus.blocklist(spark)
    def discover = CrawlCorpus.discover(spark, seeds, rules, blocked)
    h.time("discover")(CrawlCorpus.discover(spark, seeds, rules))
    h.time("urlfilter")(discover)
    h.time("frontier")(CrawlCorpus.schedule(discover, rules))
    // fetchExtract pins through the Mat seam: its build is timed once,
    // and every later row reads the pin, timing only its own work
    val pages = h.time("extract", reps = 1)(
      CrawlCorpus.fetchExtract(seeds, CrawlCorpus.schedule(discover, rules)))
    h.time("verdict")(CrawlCorpus.verdict(spark, pages))
    h.time("neardup")(CrawlCorpus.nearDup(pages))
    h.time("clip")(CrawlCorpus.clip(spark, pages))
    h.time("corpus")(CrawlCorpus.corpus(pages, CrawlCorpus.verdict(spark, pages),
      CrawlCorpus.nearDup(pages), CrawlCorpus.clip(spark, pages)))
    h.time("full")(CrawlCorpus.run(spark))
  }

  /** The fetchExtract frame alone. crawl_corpus_e2e's own plan stops at
    * the pinned checkpoint; `plan --conf spark.graft.materialize.mode=none`
    * on this leg prints the whole extraction lineage. */
  private def crawlExtract(h: Harness): Unit = {
    val (seeds, rules) = crawlSeeds(h.spark)
    h.time("fetch_extract")(CrawlCorpus.fetchExtract(seeds, CrawlCorpus.schedule(
      CrawlCorpus.discover(h.spark, seeds, rules, CrawlCorpus.blocklist(h.spark)), rules)))
  }

  /** The hostile hot-fingerprint corpus the first-occurrence keepers of
    * [[Dedup.exactDups]] and [[Cleaning.paragraphDedup]] exist for: one
    * boilerplate paragraph owns half of all paragraphs, one text half of
    * all documents. Each shipped aggregate form is timed next to an
    * inline replica of the window form it replaced; on this corpus the
    * window's hot key runs as one task, which `max_task` shows.
    * Base 20 000 documents. */
  private def hotFp(h: Harness): Unit = {
    val n = h.size(20000)
    val boiler = "Share and subscribe today. Cookie consent applies to " +
      "this site and every visit you make here."
    val id = col("id").cast("string")
    val paras = h.spark.range(n).select(col("id").as("doc_id"), concat(
      lit("Unique opening paragraph for document "), id,
      lit(" with enough words to look like prose.\n\n"), lit(boiler),
      lit("\n\nDistinct body paragraph "), id,
      lit(" carrying the actual content of the page.\n\n"), lit(boiler))
      .as("text")).localCheckpoint()
    val docs = h.spark.range(n).select(col("id").as("doc_id"),
      when(col("id") % 2 === 0, lit(boiler))
        .otherwise(concat(lit("unique document "), id)).as("text")).localCheckpoint()
    h.time("paragraph_dedup_agg", items = n)(Cleaning.paragraphDedup(paras))
    h.time("paragraph_dedup_window", items = n)(paragraphDedupWindow(paras))
    h.time("dedup_exact_agg", items = n)(Dedup.exactDups(docs))
    h.time("dedup_exact_window", items = n) {
      docs.withColumn("fp", TextAnalysis.fingerprint(col("text")))
        .withColumn("dup_rank", row_number().over(Window.partitionBy(col("fp")).orderBy(col("doc_id"))))
        .withColumn("is_duplicate", col("dup_rank") > 1)
        .select(col("doc_id"), col("fp"), col("dup_rank"), col("is_duplicate"))
    }
  }

  /** The replaced `row_number() OVER (PARTITION BY fp)` form of
    * [[Cleaning.paragraphDedup]]: same output, degenerate plan on a hot
    * fingerprint. */
  private def paragraphDedupWindow(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col("doc_id"), col("pos"))
    val ranked = docs.select(col("doc_id"),
        posexplode(split(col("text"), "\n\\s*\n")).as(Seq("pos", "para")))
      .filter(trim(col("para")) =!= "")
      .withColumn("fp", TextAnalysis.fingerprint(col("para")))
      .withColumn("_rk", row_number().over(w))
    val agged = ranked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("_rk") > 1, 1L).otherwise(0L)).as("n_removed"),
        array_join(transform(
          array_sort(collect_list(when(col("_rk") === 1, struct(col("pos"), col("para"))))),
          x => x.getField("para")), "\n\n").as("clean_text"))
    docs.select(col("doc_id")).join(agged, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_removed"), lit(0L)).as("n_removed"),
        coalesce(col("clean_text"), lit("")).as("clean_text"))
  }

  /** Synthetic web pages for the quality filters (~1.1 KB, 12 lines:
    * prose, bullets, an ellipsis line, a repeated line, word soup), so
    * every rule family sees mixed verdicts. Base 50 000 pages. These are
    * regex-heavy per-row projections: the rows pin the per-page
    * constant and its decade slope. */
  private def quality(h: Harness): Unit = {
    val pages = h.size(50000)
    val id = col("id").cast("string")
    val sentence = concat(lit("The crawl pipeline item "), id,
      lit(" fetches pages politely and extracts the main content with care. "),
      lit("Boilerplate removal decides corpus quality for shard "), id,
      lit(" so the extractor measures link density and that matters."))
    val page = concat(
      sentence, lit("\n"),
      lit("- a bullet entry for item "), id, lit("\n"),
      lit("- another bullet entry\n"),
      lit("to be continued...\n"),
      lit("repeated filler line\nrepeated filler line\n"),
      lit("spark filter join merge batch stream window hash scan vector\n"),
      sentence, lit(" We keep sentences that end properly and have "),
      lit("enough words to matter for statistics of page "), id, lit("."))
    val docs = h.spark.range(pages).select(col("id").as("doc_id"), page.as("text"))
    val bytes = pages * 1100L
    h.time("gopher_quality", items = pages, bytes = bytes)(TextAnalysis.gopherQuality(docs))
    h.time("gopher_repetition", items = pages, bytes = bytes)(TextAnalysis.gopherRepetition(docs))
    h.time("c4_clean", items = pages, bytes = bytes)(Cleaning.c4Clean(docs))
    h.time("collapse_repeats", items = pages, bytes = bytes)(Cleaning.collapseRepeatedLines(docs))
  }

  /** The embedding near-dup pair join: 10% of the vectors are
    * near-identical (one sign bucket owns them all), the rest spread by
    * hashed signs. Base 10 000 vectors. `embed_uncapped` is the
    * quadratic control, to be left out of the rungs where it stops
    * being worth the wait; the capped row is the one that must scale. */
  private def embed(h: Harness, uncapped: Boolean): Unit = {
    val n = h.size(10000)
    val hostile = math.max(2L, n / 10)
    val j = col("id").cast("double") * 1e-9
    def bit(k: Int) = when(
      shiftright(xxhash64(col("id")), k).bitwiseAND(lit(1L)) === 1L, 1.0).otherwise(-1.0)
    val vecs = h.spark.range(n).select(col("id").as("vec_id"),
        when(col("id") < hostile, array(lit(1.0) + j, lit(0.5), lit(0.25), lit(0.125)))
          .otherwise(array(bit(0) + j, bit(1), bit(2), bit(3)))
          .cast("array<float>").as("embedding"))
      .localCheckpoint()
    h.time("pair_join", items = n, count = true)(
      if (uncapped) Dedup.embeddingNearDups(vecs, threshold = 0.9)
      else Dedup.embeddingNearDupsCapped(vecs, threshold = 0.9, cap = 64))
  }

  /** Synthetic perceptual-hash tables for the media pair joins: 1% of
    * the docs hash to the degenerate value 0 (the spacer-GIF /
    * black-frame / silence class), the rest are distinct. Base 10 000
    * docs. Returns (banded image hashes, audio fingerprints, video
    * frame hashes). */
  private def mediaHashes(h: Harness): (DataFrame, DataFrame, DataFrame) = {
    val n = h.size(10000)
    val hostile = math.max(2L, n / 100)
    val doc = format_string("d%08d", col("id")).as("doc")
    val hashed = when(col("id") < hostile, lit(0L)).otherwise(xxhash64(col("id")))
    val banded = MediaCodec.imageBanded(
      h.spark.range(n).select(doc, hashed.as("dhash")).localCheckpoint()).localCheckpoint()
    val fps = h.spark.range(n)
      .select(doc, lit(8).as("n_windows"), hashed.as("fingerprint")).localCheckpoint()
    val frames = h.spark.range(n).select(doc, xxhash64(col("id")).as("dhash"))
      .unionByName(h.spark.range(math.min(n, hostile * 50)).select(doc, lit(0L).as("dhash")))
      .localCheckpoint()
    (banded, fps, frames)
  }

  /** The capped media pair joins, then decode throughput of the real
    * codecs over generated BMP/WAV/AVI bytes (base 2 000 docs; report
    * MB/s per node-equivalent). `aqe media` shows the executed join
    * flavors. */
  private def media(h: Harness): Unit = {
    val (banded, fps, frames) = mediaHashes(h)
    h.time("image_join", count = true)(MediaCodec.imagePairTail(
      MediaCodec.cappedSources(banded, Seq("band", "bucket"), 64), banded, 3))
    h.time("audio_join", count = true)(MediaCodec.audioNearDupTail(
      MediaCodec.cappedSources(fps, Seq("fingerprint", "n_windows"), 64), fps))
    h.time("video_join", count = true)(MediaCodec.videoSharedTail(frames,
      Some(MediaCodec.cappedSources(frames, Seq("dhash"), 64))))
    import h.spark.implicits._
    val n = h.size(2000)
    def payloads(rows: Long, f: Long => (String, String, String, Array[Byte])) = {
      val df = h.spark.range(rows).mapPartitions(_.map(i => f(i)))
        .toDF("doc", "modality", "codec", "payload").localCheckpoint()
      (df, df.agg(sum(length(col("payload")))).head().getLong(0))
    }
    val (imgs, imgBytes) = payloads(n, i => (s"img$i", "image", "bmp",
      MediaCodec.bmpBytes(96 + (i % 7).toInt, 64 + (i % 5).toInt)))
    val (wavs, wavBytes) = payloads(n, i => (s"wav$i", "audio", "wav",
      MediaCodec.wavBytes(8000, 1, 4000 + (i % 11).toInt)))
    val (avis, aviBytes) = payloads(math.max(1L, n / 4), i => (s"avi$i", "video", "avi",
      MediaCodec.aviBytes(48, 32, 12)))
    h.time("decode_image", items = n, bytes = imgBytes)(MediaCodec.imageDHash(imgs).toDF())
    h.time("decode_audio", items = n, bytes = wavBytes)(MediaCodec.wavFingerprint(wavs).toDF())
    h.time("decode_video", bytes = aviBytes)(MediaCodec.aviFrameDHash(avis).toDF())
  }

  /** The uncapped image and audio joins over the same tables: the
    * quadratic control for the capped rows of `media`. */
  private def mediaUncapped(h: Harness): Unit = {
    val (banded, fps, _) = mediaHashes(h)
    h.time("image_join", count = true)(MediaCodec.imagePairTail(banded, banded, 3))
    h.time("audio_join", count = true)(MediaCodec.audioNearDupTail(fps, fps))
  }

  private val MaxHeap = 1365 // (4^6-1)/3: full 4-ary heap of depth 5

  /** A wide-graph page `/t{t}/p{i}`: 4 child links (each on its own
    * host, children of node i are 4i+1..4i+4 below [[MaxHeap]]) plus
    * one cycle link back to a lower, already-visited index. */
  private def synthPage(url: String): Array[Byte] = {
    val m = java.util.regex.Pattern.compile("/t(\\d+)/p(\\d+)$").matcher(url)
    if (!m.find()) return "<html><body>leaf</body></html>".getBytes("UTF-8")
    val t = m.group(1).toLong
    val i = m.group(2).toLong
    val sb = new StringBuilder(512)
    sb ++= s"<html><head><title>T$t P$i</title></head><body><p>Synthetic hub page body.</p>"
    for (k <- 1 to 4; c = 4 * i + k if c < MaxHeap)
      sb ++= s"""<a href="http://s${(t * 31 + c) % 64}.example.com/t$t/p$c">child $c</a> """
    val j = if (i > 0) (i * 7 + 3) % i else 0
    sb ++= s"""<a href="http://s${(t * 31 + j) % 64}.example.com/t$t/p$j">cycle $j</a>"""
    sb ++= "</body></html>"
    sb.toString.getBytes("UTF-8")
  }

  /** A deep-graph page `/d{l}/p{j}`: levels 0..maxDepth of `width`
    * pages; page (l, j) links to (l+1, j) and (l+1, (j+1) mod width),
    * which together cover the next level, plus a cycle edge back to
    * level l/2. Every round then probes the anti-join against the whole
    * accumulated visited set, which is what the compaction cadence is
    * for. */
  private def synthDeepPage(url: String, width: Int, maxDepth: Int): Array[Byte] = {
    val m = java.util.regex.Pattern.compile("/d(\\d+)/p(\\d+)$").matcher(url)
    if (!m.find()) return "<html><body>leaf</body></html>".getBytes("UTF-8")
    val l = m.group(1).toInt
    val j = m.group(2).toInt
    val sb = new StringBuilder(384)
    sb ++= s"<html><head><title>D$l P$j</title></head><body><p>Deep chain page.</p>"
    if (l < maxDepth) {
      val c1 = j; val c2 = (j + 1) % width
      sb ++= s"""<a href="http://s${(31 * (l + 1) + c1) % 64}.example.com/d${l + 1}/p$c1">down</a> """
      sb ++= s"""<a href="http://s${(31 * (l + 1) + c2) % 64}.example.com/d${l + 1}/p$c2">diag</a> """
    }
    sb ++= s"""<a href="http://s${(31 * (l / 2) + j) % 64}.example.com/d${l / 2}/p$j">cycle</a>"""
    sb ++= "</body></html>"
    sb.toString.getBytes("UTF-8")
  }

  /** The BFS crawl loop ([[CrawlCorpus.bfs]]) on synthetic graphs
    * through its `fetch` seam, so everything but the transport is under
    * test. `bfs`: 4-ary heaps to depth 5 (base 73 trees, ~100 k pages).
    * `bfs_deep`: 34 levels of width 3 000 (~105 k pages at base), where
    * the visited set accumulates. Both compact the visited set every 8
    * rounds; each round prints its frontier rows and seconds. */
  private def bfs(h: Harness, deep: Boolean): Unit = {
    val depth = if (deep) 33 else 5
    val roots = h.size(if (deep) 3000 else 73)
    val page = if (deep) udf((url: String) => synthDeepPage(url, roots.toInt, depth))
      else udf((url: String) => synthPage(url))
    val seeds = h.spark.range(roots).select(concat(lit("http://s"), (col("id") * 31) % 64,
      lit(if (deep) ".example.com/d0/p" else ".example.com/t"), col("id"),
      lit(if (deep) "" else "/p0")).as("url"))
    h.time("crawl", count = true)(CrawlCorpus.bfs(h.spark, seeds,
      UrlOps.RobotsRules(Seq((false, "/blocked/"))), maxDepth = depth,
      fetch = urls => urls.select(col("url"), page(col("url")).as("content")),
      visitedCompactEvery = 8,
      onRound = (d, rows, secs) => println(f"ROUND depth=$d rows=$rows%-8d $secs%.2f s")))
  }

  /** Html extraction over distinct stamped copies of the blog fixture
    * (base 50 000 pages): whether the per-row kernel keeps a WARC scan
    * CPU-bound. Inputs are pinned, so the rows time the parse. */
  private def crawlHtml(h: Harness): Unit = {
    val pages = h.size(50000)
    val template = DocFixtures.blogHtml.replace("Parsing at scale", "Parsing at scale ")
    val df = h.spark.range(pages).select(col("id").cast("string").as("doc"),
        encode(concat(lit(template), col("id").cast("string")), "UTF-8").as("content"))
      .localCheckpoint()
    val bytes = df.agg(sum(length(col("content")))).head().getLong(0)
    h.time("html_blocks", items = pages, bytes = bytes)(Html.htmlBlocks(df))
  }

  /** One synthetic WARC shard of `perShard` response records, each a
    * distinct stamped page, in the ISO 28500 framing of the fixtures. */
  private def warcShard(shard: Long, perShard: Int, template: String): Array[Byte] = {
    val out = new java.io.ByteArrayOutputStream(perShard * (template.length + 256))
    val iso = java.nio.charset.StandardCharsets.ISO_8859_1
    for (k <- 0 until perShard) {
      val id = shard * perShard + k
      val page = template.replace("Parsing at scale", s"Parsing at scale $id")
      val http = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
        page).getBytes(iso)
      val hdr = (s"WARC/1.0\r\nWARC-Type: response\r\n" +
        s"WARC-Target-URI: http://example.com/p$id\r\n" +
        s"WARC-Record-ID: <urn:uuid:$id>\r\n" +
        s"Content-Length: ${http.length}\r\n\r\n").getBytes(iso)
      out.write(hdr); out.write(http); out.write("\r\n\r\n".getBytes(iso))
    }
    out.toByteArray
  }

  /** [[Warc.warcHtmlBlocks]] over synthetic shards of 25 records each
    * (base 2 000 shards, 50 000 pages). */
  private def crawlWarc(h: Harness): Unit = {
    import h.spark.implicits._
    val shards = h.size(2000)
    val template = DocFixtures.blogHtml
    val df = h.spark.range(shards)
      .mapPartitions(_.map(s => (s.toString, warcShard(s, 25, template))))
      .toDF("warc", "content").localCheckpoint()
    val bytes = df.agg(sum(length(col("content")))).head().getLong(0)
    h.time("warc_html_blocks", items = shards * 25, bytes = bytes)(Warc.warcHtmlBlocks(df))
  }

  /** The WARC and WET write side ([[Warc.toWarcShards]],
    * [[Warc.toWetShards]]), plain and per-member gzip, over distinct
    * stamped pages (base 5 000) into a fixed 32 shards: a bigger crawl
    * means bigger shards, so the slope is per-shard byte growth. */
  private def warcWrite(h: Harness): Unit = {
    import h.spark.implicits._
    val pages = h.size(5000)
    val template = DocFixtures.blogHtml
    val df = h.spark.range(pages)
      .mapPartitions(_.map { i =>
        (s"http://example.com/p$i", "text/html; charset=utf-8",
          template.replace("Parsing at scale", s"Parsing at scale $i")
            .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      })
      .toDF("url", "content_type", "content").localCheckpoint()
    val bytes = df.agg(sum(length(col("content")))).head().getLong(0)
    val text = df.select(col("url"), decode(col("content"), "UTF-8").as("text")).localCheckpoint()
    val textBytes = text.agg(sum(length(col("text")))).head().getLong(0)
    for (gz <- Seq(false, true); framing = if (gz) "gz" else "plain") {
      h.time(s"warc_$framing", items = pages, bytes = bytes)(
        Warc.toWarcShards(df, 32, gzipMembers = gz))
      h.time(s"wet_$framing", items = pages, bytes = textBytes)(
        Warc.toWetShards(text, 32, gzipMembers = gz))
    }
  }

  /** The bigram LM artifact split: the train half (corpus-wide gram
    * aggregate, persisted) once, then the score half (documents joined
    * with the frozen model). */
  private def lmSplit(h: Harness): Unit = {
    val dir = Files.createTempDirectory("graft-lm").toString
    val docs = Tables.documents(h.spark, h.sfDir)
    h.step("train")(TextAnalysis.saveLm(TextAnalysis.trainBigramLm(docs), dir))
    h.time("score")(TextAnalysis.bigramSurprisalWith(docs,
      TextAnalysis.loadLm(h.spark, dir, Seq("bigram", "c12", "cctx", "v"))))
  }

  /** The composed [[Cleaning.cleanCorpus]] verdict with a frozen
    * unigram model, trained once. */
  private def lmClean(h: Harness): Unit = {
    val dir = Files.createTempDirectory("graft-lm").toString
    val docs = Tables.documents(h.spark, h.sfDir)
    h.step("train")(TextAnalysis.saveLm(TextAnalysis.trainUnigramLm(docs), dir))
    h.time("clean_frozen_lm") {
      val bench = docs.filter(col("doc_id") % 25 === 0)
        .select(col("doc_id").as("bench_id"), col("text"))
      Cleaning.cleanCorpus(docs, bench,
        lm = Some(TextAnalysis.loadLm(h.spark, dir, Seq("term", "cnt", "total"))))
    }
  }

  /** The ivf_stream_e2e lifecycle step by step: build, two streamed
    * micro-batches, compact, a replayed batch, a third micro-batch, and
    * the probe. The index directory is fixed across reps, so rep 2
    * rebuilds over an existing index: the warm shape Bench times. */
  private def ivf(h: Harness): Unit = {
    val s = h.spark
    import s.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = s.sqlContext
    val e = Tables.embeddings(s, h.sfDir)
    val dir = Files.createTempDirectory("graft-ivf-drill").toString
    for (rep <- 1 to h.runs) {
      def step[A](label: String)(f: => A): A = h.step(s"rep$rep/$label")(f)
      step("build")(IvfIndex.build(e.filter(col("vec_id") >= 200), dir, nlist = 8))
      val late = step("collect") {
        e.filter(col("vec_id") >= 5 && col("vec_id") < 200)
          .select("vec_id", "embedding").collect()
          .map(r => (r.getLong(0), r.getSeq[Float](1))).sortBy(_._1)
      }
      val input = org.apache.spark.sql.execution.streaming.runtime
        .MemoryStream[(Long, Seq[Float])]
      val q = step("start") {
        input.toDF()
          .selectExpr("_1 AS vec_id", "CAST(_2 AS ARRAY<FLOAT>) AS embedding")
          .writeStream
          .foreachBatch((b: DataFrame, id: Long) => IvfIndex.append(b, dir, batchId = Some(id)))
          .option("checkpointLocation",
            Files.createTempDirectory("graft-ivf-drill-ck").toString)
          .start()
      }
      try {
        step("batch0") { input.addData(late.filter(_._1 < 70).toSeq); q.processAllAvailable() }
        step("batch1") {
          input.addData(late.filter(x => x._1 >= 70 && x._1 < 135).toSeq)
          q.processAllAvailable()
        }
        step("compact")(IvfIndex.compact(s, dir, foldMinRatio = 0.0))
        step("replay")(IvfIndex.append(
          e.filter(col("vec_id") >= 70 && col("vec_id") < 135), dir, batchId = Some(1L)))
        step("batch2") { input.addData(late.filter(_._1 >= 135).toSeq); q.processAllAvailable() }
      } finally step("stop")(q.stop())
      h.time(s"rep$rep/probe", reps = 1)(IvfIndex.probe(s, dir,
        e.filter(col("vec_id") < 5)
          .select(col("vec_id").as("q_vec_id"), col("embedding").as("q_embedding")),
        k = 10, nprobe = 2))
    }
  }
}
