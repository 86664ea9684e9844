package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.operators.{DocFixtures, UrlOps, Warc}
import graft.streaming.StreamingIngest

/** The streamed crawl chain (crawl_stream_e2e) against its batch twin,
  * plus the frontier politeness window. */
class CrawlStreamSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString + "/t"

  private def finalCols(df: DataFrame): Seq[(String, Int, Boolean, String)] =
    df.select("url", "block_idx", "heading", "content")
      .collect()
      .map(r => (r.getString(0), r.getInt(1), r.getBoolean(2), r.getString(3)))
      .sortBy(t => (t._1, t._2)).toSeq

  /** One micro-batch of the crawl ledger upserted into the base table:
    * append the batch's segment, then compact it. */
  private def appendCompact(batch: DataFrame, dir: String): Unit = {
    StreamingIngest.crawlAppendBatch(spark, batch, dir)
    StreamingIngest.crawlCompact(spark, dir)
  }

  test("streamed crawl upserts equal the batch chain, one copy per page") {
    val dir = tmp("graft-crawl-parity")
    val all = DocFixtures.warcAll.toDF("warc", "content")
    // batch 0: the plain shard; batch 1: its gz twin — a RE-crawl of the
    // same pages, which the fp-keyed LWW resolve must collapse, not
    // append; then an at-least-once replay of the second batch
    for (shard <- Seq("crawl", "crawl_gz", "crawl_gz"))
      appendCompact(all.filter($"warc" === shard), dir)
    val streamed = finalCols(spark.read.parquet(dir))
    val batch = finalCols(Warc.warcHtmlBlocks(all).dropDuplicates("url", "block_idx", "content"))
    assert(streamed === batch)
    assert(streamed.nonEmpty)
    // exactly ONE row per (url, block): the re-crawl replaced, the
    // replay no-op'd
    assert(streamed.map(t => (t._1, t._2)).distinct.size === streamed.size)
  }

  test("append+compact (LSM path) equals the per-batch upsert chain exactly") {
    val upsertDir = tmp("graft-crawl-upsert")
    val appendDir = tmp("graft-crawl-append")
    val all = DocFixtures.warcAll.toDF("warc", "content")
    for (shard <- Seq("crawl", "crawl_gz", "crawl_gz")) { // incl. the replay
      appendCompact(all.filter($"warc" === shard), upsertDir)
      StreamingIngest.crawlAppendBatch(spark, all.filter($"warc" === shard), appendDir)
    }
    // the view resolves LWW without compacting…
    assert(finalCols(StreamingIngest.crawlCorpusView(spark, appendDir)) ===
      finalCols(spark.read.parquet(upsertDir)))
    // …and compacting materializes the same rows and drops the segments
    StreamingIngest.crawlCompact(spark, appendDir)
    assert(finalCols(spark.read.parquet(appendDir)) ===
      finalCols(spark.read.parquet(upsertDir)))
    val fs = new org.apache.hadoop.fs.Path(appendDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(appendDir + "_seg")))
    // compact with no new segments is a no-op; appending after a
    // compact folds into the existing base on the next one
    StreamingIngest.crawlCompact(spark, appendDir)
    StreamingIngest.crawlAppendBatch(spark, all.filter($"warc" === "crawl"), appendDir)
    StreamingIngest.crawlCompact(spark, appendDir)
    assert(finalCols(spark.read.parquet(appendDir)) ===
      finalCols(spark.read.parquet(upsertDir)))
  }

  test("a changed page on re-crawl REPLACES its previous extraction (identity-keyed LWW)") {
    val dir = tmp("graft-crawl-recrawl")
    val all = DocFixtures.warcAll.toDF("warc", "content")
    appendCompact(all.filter($"warc" === "crawl"), dir)
    val before = spark.read.parquet(dir).count()
    // a re-crawl whose content CHANGED: same page identity (no declared
    // canonical → the fetch url), so LWW on (crawl_key, block_idx)
    // replaces the stale extraction instead of accumulating versions
    val changed = DocFixtures.blogHtml.replace(
      "Parsing at scale", "Parsing at planetary scale")
    val httpBody = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
      changed).getBytes("ISO-8859-1")
    val warc =
      ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: http://example.com/blog\r\n" +
        "Content-Length: " + httpBody.length + "\r\n\r\n").getBytes("ISO-8859-1") ++ httpBody
    val parsed = Warc.parseWarc(warc)
    assert(parsed.isDefined && parsed.get.head.http_status === Some(200))
    appendCompact(Seq(("recrawl", warc)).toDF("warc", "content"), dir)
    val after = spark.read.parquet(dir)
    assert(after.count() === before)
    assert(after.filter($"content" === "Parsing at planetary scale").count() === 1)
    assert(after.filter($"content" === "Parsing at scale").count() === 0)
  }

  test("a re-crawl with FEWER blocks replaces the whole extraction (no stale surplus)") {
    val dir = tmp("graft-crawl-shrink")
    def pageWarc(html: String): (String, Array[Byte]) = {
      val httpBody = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
        html).getBytes("UTF-8")
      ("shrink", ("WARC/1.0\r\nWARC-Type: response\r\n" +
        "WARC-Target-URI: http://example.com/shrink\r\n" +
        "Content-Length: " + httpBody.length + "\r\n\r\n").getBytes("ISO-8859-1")
        ++ httpBody)
    }
    val p1 = "<p>First paragraph with plenty of real content inside.</p>"
    val p2 = "<p>Second paragraph that the re-crawl later removes entirely.</p>"
    appendCompact(
      Seq(pageWarc(s"<html><body>$p1$p2</body></html>")).toDF("warc", "content"), dir)
    assert(spark.read.parquet(dir).count() === 2)
    // the page shrank to ONE block: the old block_idx 1 row must die
    // with its version, not survive as a franken-document
    appendCompact(
      Seq(pageWarc(s"<html><body>$p1</body></html>")).toDF("warc", "content"), dir)
    val rows = spark.read.parquet(dir).collect()
    assert(rows.length === 1, rows.mkString("; "))
    assert(rows.head.getAs[String]("content").startsWith("First paragraph"))
    // and the uncompacted view resolves identically
    val segDir = tmp("graft-crawl-shrink-seg")
    StreamingIngest.crawlAppendBatch(spark,
      Seq(pageWarc(s"<html><body>$p1$p2</body></html>")).toDF("warc", "content"), segDir)
    StreamingIngest.crawlAppendBatch(spark,
      Seq(pageWarc(s"<html><body>$p1</body></html>")).toDF("warc", "content"), segDir)
    assert(StreamingIngest.crawlCorpusView(spark, segDir).count() === 1)
  }

  test("canonical twins collapse to one row per block across separate upserts") {
    val dir = tmp("graft-crawl-twins")
    def twinWarc(url: String, html: String): (String, Array[Byte]) = {
      val httpBody = ("HTTP/1.1 200 OK\r\nContent-Type: text/html; charset=utf-8\r\n\r\n" +
        html).getBytes("UTF-8")
      ("twin", ("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: " + url +
        "\r\nContent-Length: " + httpBody.length + "\r\n\r\n").getBytes("ISO-8859-1")
        ++ httpBody)
    }
    appendCompact(Seq(
      twinWarc("http://amp.example.com/story", DocFixtures.canonicalTwinAHtml))
      .toDF("warc", "content"), dir)
    appendCompact(Seq(
      twinWarc("http://m.example.com/story", DocFixtures.canonicalTwinBHtml))
      .toDF("warc", "content"), dir)
    val rows = spark.read.parquet(dir)
    // both renderings declare the same (case/utm-noised) canonical →
    // ONE corpus row, the later twin's text, keyed on the normalized
    // canonical identity
    assert(rows.count() === 1)
    val r = rows.collect().head
    assert(r.getAs[String]("crawl_key") === "https://example.com/stories/one-story")
    assert(r.getAs[String]("url") === "http://m.example.com/story")
    assert(r.getAs[String]("content").contains("full desktop rendering"))
  }

  test("streamingFrontier: one batch equals the batch operator; budget is durable across batches") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val urls = Seq(
      ("http://a.com/p1", 900000L), ("http://a.com/p2", 100000L),
      ("http://a.com/p3", 800000L), ("http://b.com/q1", 500000L))
    val input = MemoryStream[(String, Long)]
    val q = StreamingIngest.streamingFrontier(
        input.toDF().toDF("url", "priority_micro"), hostBudget = 2, crawlDelaySec = 3)
      .writeStream.format("memory").queryName("frontier_parity")
      .outputMode("append")
      .option("checkpointLocation", tmp("graft-frontier-parity-ck")).start()
    try {
      input.addData(urls) // the WHOLE frontier in one batch → batch parity
      q.processAllAvailable()
      val streamed = spark.table("frontier_parity")
        .select("host", "url", "fetch_rank", "fetch_tick_sec")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._3)).toSeq
      val batch = UrlOps.crawlFrontier(
          urls.toDF("url", "priority_micro"), hostBudget = 2, crawlDelaySec = 3)
        .select("host", "url", "fetch_rank", "fetch_tick_sec")
        .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getLong(3)))
        .sortBy(t => (t._1, t._3)).toSeq
      assert(streamed === batch)
      // a LATER batch must see the budget already spent: nothing fits
      input.addData(Seq(("http://a.com/p9", 999999L)))
      q.processAllAvailable()
      assert(spark.table("frontier_parity")
        .filter($"url" === "http://a.com/p9").count() === 0)
    } finally {
      q.stop()
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("crawlFrontier: per-host budget, priority-then-url order, deterministic ranks") {
    val frontier = Seq(
      ("http://a.com/p1", 900000L), ("http://a.com/p2", 900000L),
      ("http://a.com/p3", 100000L), ("http://b.com/q", 500000L),
      ("http://User@A.com/p4", 950000L) // userinfo excluded from host; host lowercases
    ).toDF("url", "priority_micro")
    val out = UrlOps.crawlFrontier(frontier, hostBudget = 2)
      .select("host", "url", "fetch_rank")
      .collect().map(r => (r.getString(0), r.getString(1), r.getInt(2))).sortBy(t => (t._1, t._3))
    assert(out === Seq(
      ("a.com", "http://User@A.com/p4", 1), // highest priority on a.com
      ("a.com", "http://a.com/p1", 2), // tie broken by url asc; p3 over budget
      ("b.com", "http://b.com/q", 1)))
  }

  test("per-host Crawl-delay: each host spaces by ITS robots delay; zero is legal") {
    val frontier = Seq(
      ("http://a.com/p1", 900000L), ("http://a.com/p2", 500000L),
      ("http://b.com/q1", 900000L), ("http://b.com/q2", 500000L),
      ("http://c.com/r1", 900000L), ("http://c.com/r2", 500000L)
    ).toDF("url", "priority_micro")
    // a.com published 5 s, b.com a legal 0 s; c.com falls back to 2 s
    val delays = Seq(("a.com", 5), ("b.com", 0)).toDF("host", "crawl_delay_sec")
    val out = UrlOps.crawlFrontier(frontier, hostBudget = 5, crawlDelaySec = 2,
        hostDelays = Some(delays))
      .select("host", "fetch_rank", "fetch_tick_sec")
      .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2)).toSeq
    assert(out === Seq(
      ("a.com", 1, 0L), ("a.com", 2, 5L),
      ("b.com", 1, 0L), ("b.com", 2, 0L), // zero delay: both ticks at 0
      ("c.com", 1, 0L), ("c.com", 2, 2L)))

    // streaming twin: identical ticks under the same delay map
    // (transformWithState needs the RocksDB provider, like the parity test)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(String, Long)]
    val q = StreamingIngest.streamingFrontier(
        input.toDF().toDF("url", "priority_micro"), hostBudget = 5,
        crawlDelaySec = 2, hostDelays = Map("a.com" -> 5, "b.com" -> 0))
      .writeStream.format("memory").queryName("frontier_delays")
      .outputMode("append")
      .option("checkpointLocation", tmp("graft-frontier-delays-ck")).start()
    try {
      input.addData(Seq(
        ("http://a.com/p1", 900000L), ("http://a.com/p2", 500000L),
        ("http://b.com/q1", 900000L), ("http://b.com/q2", 500000L),
        ("http://c.com/r1", 900000L), ("http://c.com/r2", 500000L)))
      q.processAllAvailable()
      val streamed = spark.table("frontier_delays")
        .select("host", "fetch_rank", "fetch_tick_sec")
        .collect().map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        .sortBy(t => (t._1, t._2)).toSeq
      assert(streamed === out)
    } finally {
      q.stop()
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }

  test("streaming recrawl: a re-fetched page's FRESH validator 304s on the next cycle") {
    import graft.operators.UrlIngest
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val base = s"http://127.0.0.1:${UrlIngest.fixtureServerPort}"
    val pageFile = new java.io.File(UrlIngest.defaultStageDir, "recrawl-spec.html")
    def stage(v: String): Unit = {
      java.nio.file.Files.write(pageFile.toPath,
        s"<html><body><p>spec version $v</p></body></html>".getBytes("UTF-8"))
      ()
    }
    stage("one")
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[(String, Long)]
    val q = StreamingIngest.streamingRecrawl(
        input.toDS().map { case (u, b) => StreamingIngest.RecrawlDue(u, b) },
        backoffMs = 1)
      .writeStream.format("memory").queryName("recrawl_spec")
      .outputMode("append")
      .option("checkpointLocation", tmp("graft-recrawl-spec-ck")).start()
    try {
      val url = s"$base/recrawl-spec.html"
      input.addData((url, 0L)); q.processAllAvailable() // first crawl
      stage("two")
      input.addData((url, 1L)); q.processAllAvailable() // changed: re-fetch
      input.addData((url, 2L)); q.processAllAvailable() // unchanged again
      val out = spark.table("recrawl_spec")
        .select("batch_id", "not_modified", "refetched")
        .collect().map(r => (r.getLong(0), r.getBoolean(1), r.getBoolean(2)))
        .sortBy(_._1).toSeq
      // cycle 2's 304 proves the CHANGED fetch stored its new validator
      assert(out === Seq((0L, false, true), (1L, false, true), (2L, true, false)))
    } finally {
      q.stop()
      prev match { case Some(v) => spark.conf.set(key, v); case None => spark.conf.unset(key) }
    }
  }
}
