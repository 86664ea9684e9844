package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.operators.Validation
import graft.streaming.StreamingIngest

class StreamingValidationSpec extends SparkSpec {
  import spark.implicits._

  test("P1 mime sniffing hits every branch on the shared fixtures") {
    val out = Validation.mimeFixturesDF(spark)
      .select(col("name"), Validation.sniffMime(col("head")).as("mime"))
      .collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("pdf_ok") === "application/pdf")
    assert(out("docx").contains("wordprocessingml"))
    assert(out("zip") === "application/zip")
    assert(out("doc_ole") === "application/msword")
    assert(out("eml_rp") === "message/rfc822")
    assert(out("eml_mime") === "message/rfc822")
    assert(out("junk") === "application/octet-stream")
  }

  test("P2 validation accumulates error strings and derives is_valid") {
    val docs = Seq((1L, "fine text", "en", 9L), (2L, "", "en", 0L), (3L, "x", "xx", 700L))
      .toDF("doc_id", "text", "lang", "n_chars")
    val out = Validation.validate(docs, maxChars = 500, langWhitelist = Seq("en"))
      .orderBy("doc_id").select("errors", "is_valid").collect()
    assert(out(0).getString(0) === "" && out(0).getBoolean(1))
    assert(out(1).getString(0) === "empty_content" && !out(1).getBoolean(1))
    assert(out(2).getString(0) === "file_too_large,unsupported_type")
  }

  test("streaming ledger dedup: the fingerprint ledger survives a restart " +
      "with a FRESH checkpoint (state lives outside the stream)") {
    import graft.operators.Dedup
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val work = Files.createTempDirectory("graft-ledger-restart")
    val ledgerDir = s"$work/ledger"; val verdictDir = s"$work/verdicts"
    Dedup.fpLedger(Seq((1L, "seed content")).toDF("doc_id", "text"))
      .write.parquet(ledgerDir)
    def runOnce(ck: String, rows: Seq[(Long, String)]): Unit = {
      val in = MemoryStream[(Long, String)]
      val q = StreamingIngest.streamingLedgerDedup(
        in.toDF().toDF("doc_id", "text"), ledgerDir, verdictDir, s"$work/$ck").start()
      try { in.addData(rows: _*); q.processAllAvailable() } finally q.stop()
    }
    runOnce("ck1", Seq((10L, "first run original")))
    // SECOND query, fresh checkpoint — a restarted deployment. Its
    // batch ids restart at 0, so the verdict landing zone must be a
    // new dir in this harness (per-batch dynamic overwrite would
    // otherwise replace run 1's batch-0 partition); the LEDGER path is
    // the shared state under test.
    val verdictDir2 = s"$work/verdicts2"
    val in2 = MemoryStream[(Long, String)]
    val q2 = StreamingIngest.streamingLedgerDedup(
      in2.toDF().toDF("doc_id", "text"), ledgerDir, verdictDir2, s"$work/ck2").start()
    try {
      in2.addData((20L, "first run original"), (21L, "seed content"))
      q2.processAllAvailable()
    } finally q2.stop()
    val out = spark.read.parquet(verdictDir2).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("dup_class"), Option(r.getAs[java.lang.Long]("dup_of"))))).toMap
    assert(out(20L) === (("cross_snapshot", Some(java.lang.Long.valueOf(10L)))),
      "run 2 must see run 1's fingerprints through the ledger alone")
    assert(out(21L) === (("cross_snapshot", Some(java.lang.Long.valueOf(1L)))))
    // durability layout: every batch wrote a NEW committed version —
    // the prior ledger state is never deleted, so a crash mid-write
    // can only lose the version being written, never the history
    val versions = new java.io.File(ledgerDir).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("v\\d+"))
      .map(_.getName).sorted
    assert(versions.toSeq === Seq("v0", "v1"),
      s"expected one immutable version per batch, got ${versions.mkString(",")}")
  }

  test("streaming ledger dedup bootstraps with NO pre-seeded ledger " +
      "(first micro-batch of a fresh deployment)") {
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val work = Files.createTempDirectory("graft-ledger-fresh")
    val ledgerDir = s"$work/ledger"; val verdictDir = s"$work/verdicts"
    val in = MemoryStream[(Long, String)]
    val q = StreamingIngest.streamingLedgerDedup(
      in.toDF().toDF("doc_id", "text"), ledgerDir, verdictDir, s"$work/ck").start()
    try {
      in.addData((1L, "first ever"), (2L, "first ever"))
      q.processAllAvailable()
    } finally q.stop()
    val out = spark.read.parquet(verdictDir).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("dup_class")).toMap
    assert(out === Map(1L -> "original", 2L -> "in_batch"),
      "an absent ledger path is an empty ledger, not an AnalysisException")
  }

  test("versionedLatest opens the newest committed version, numbers the next") {
    import graft.operators.Dedup
    val work = Files.createTempDirectory("graft-ledger-latest")
    val ledgerDir = s"$work/ledger"
    def writeVersion(v: Long): Unit =
      Dedup.fpLedger(Seq((v, s"content $v")).toDF("doc_id", "text"))
        .write.parquet(s"$ledgerDir/v$v")
    (0L to 3L).foreach(writeVersion)
    // uncommitted residue: v3 loses its commit marker (a crashed write)
    // and v9 is a bare dir (a write possibly in flight)
    new java.io.File(s"$ledgerDir/v3/_SUCCESS").delete()
    val v9 = new java.io.File(s"$ledgerDir/v9"); v9.mkdirs()
    java.nio.file.Files.write(v9.toPath.resolve("part-junk.parquet"), Array[Byte](1, 2, 3))
    // the fingerprint ledger's empty state: the reader's bootstrap frame
    val empty = spark.range(0).select(
      col("id").cast("string").as("fp"), lit(null).cast("long").as("keeper_id"))
    val (df, next) = StreamingIngest.versionedLatest(spark, ledgerDir, empty)
    assert(df.select("keeper_id").as[Long].collect().toSeq === Seq(2L),
      "the reader opens v2, the newest committed version")
    assert(next === 10L, "the next write lands past every version dir, committed or not")
    val (fresh, freshNext) = StreamingIngest.versionedLatest(spark, s"$work/absent", empty)
    assert(fresh.count() === 0L && freshNext === 0L)
  }

  test("recoverSwap rolls an interrupted swap forward/back without losing the table") {
    import org.apache.hadoop.fs.Path
    val base = Files.createTempDirectory("graft_swap").toString
    val dst = new Path(s"$base/docs"); val tmp = new Path(s"$base/docs_tmp")
    val bak = new Path(s"$base/docs_bak")
    val fs = dst.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def writeTable(p: Path, ids: Seq[Long]): Unit =
      ids.toDF("doc_id").write.mode("overwrite").parquet(p.toString)
    def ids(p: Path): Set[Long] =
      spark.read.parquet(p.toString).as[Long].collect().toSet

    // crash between dst->bak and tmp->dst: tmp is the newest full copy
    writeTable(tmp, Seq(1L, 2L, 3L)); writeTable(bak, Seq(1L, 2L))
    StreamingIngest.recoverSwap(fs, dst, tmp, bak)
    assert(ids(dst) === Set(1L, 2L, 3L) && !fs.exists(tmp) && !fs.exists(bak))

    // crash after tmp->dst but before delete bak: bak is stale
    writeTable(bak, Seq(1L))
    StreamingIngest.recoverSwap(fs, dst, tmp, bak)
    assert(ids(dst) === Set(1L, 2L, 3L) && !fs.exists(bak))

    // crash mid-tmp-write with dst intact: tmp is garbage
    writeTable(tmp, Seq(9L))
    StreamingIngest.recoverSwap(fs, dst, tmp, bak)
    assert(ids(dst) === Set(1L, 2L, 3L) && !fs.exists(tmp))

    // crash after dst->bak with tmp somehow gone: roll back to bak
    fs.delete(dst, true); writeTable(bak, Seq(1L, 2L))
    StreamingIngest.recoverSwap(fs, dst, tmp, bak)
    assert(ids(dst) === Set(1L, 2L))

    // FIRST-EVER batch crashed mid-tmp-write (no dst, no bak): the
    // half-written tmp must be discarded, never promoted to dst
    fs.delete(dst, true)
    fs.mkdirs(tmp) // empty dir stands in for a partial, uncommitted write
    StreamingIngest.recoverSwap(fs, dst, tmp, bak)
    assert(!fs.exists(dst) && !fs.exists(tmp))
  }

  test("crawlCorpusView breaks ingest_ts ties deterministically by doc_id") {
    val tgt = Files.createTempDirectory("graft_tie").toString + "/docs"
    val ts = new java.sql.Timestamp(1000000L)
    // one page version, three rows on one fp key at one ingest_ts
    Seq((1L, "fp_a", ts), (7L, "fp_a", ts), (3L, "fp_a", ts))
      .toDF("doc_id", "fp", "ingest_ts")
      .withColumn("crawl_key", lit("http://example.com/p"))
      .withColumn("page_ver", lit(1L))
      .write.parquet(tgt)
    val kept = StreamingIngest.crawlCorpusView(spark, tgt)
      .select("doc_id").as[Long].collect().toSeq
    assert(kept === Seq(7L)) // highest doc_id wins the tie, every run
  }
}
