package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.DataStreamWriter
import org.apache.spark.sql.Row
import graft.operators.TextAnalysis

/** Structured-Streaming face of the ingest pipeline (SURVEY.md §2.10).
  *
  * The reference ingests documents asynchronously under bounded
  * concurrency, idempotent by content hash, with upsert-overwrite
  * semantics in the vector index
  * (`ingestion_service.py:387,92-106`, `pinecone_manager.py:78,90`).
  * Streaming mapping: `foreachBatch` sinks replace the arrival loop,
  * a last-write-wins crawl ledger ([[crawlAppendBatch]] +
  * [[crawlCompact]]) replaces the Pinecone upsert, and versioned
  * fingerprint ledgers outside the checkpoint ([[streamingLedgerDedup]],
  * [[streamingNearDupLedger]]) replace the hash cache. The crash-safe
  * tmp/bak swap ([[swapInto]], [[recoverSwap]]) is shared with
  * [[graft.io.IvfIndex]].
  */
object StreamingIngest {

  /** The fp-keyed newest-wins resolution the crawl ledger applies
    * after its winner filter: ONE row per fp, latest `ingest_ts`, ties
    * by `doc_id` desc. */
  private def resolveLww(all: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp"))
      .orderBy(col("ingest_ts").desc, col("doc_id").desc)
    all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }


  /** Crawl-ledger resolution: the winning RENDERING's blocks, never a
    * mix. A page's extraction is stamped with one `page_ver` shared by
    * all its blocks ([[crawlBlocksStamped]]); per `crawl_key` the
    * newest (`ingest_ts`, `page_ver`) wins and ONLY its rows survive —
    * so a re-crawl that extracts FEWER blocks truly REPLACES the
    * previous extraction (the old surplus block rows die with their
    * version), and two twins landing in one micro-batch resolve to one
    * twin's whole extraction, never a per-block mix. The fp window
    * after the winner filter collapses replayed duplicates of the
    * winning version itself. */
  private def crawlResolve(all: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("crawl_key"))
      .orderBy(col("ingest_ts").desc, col("page_ver").desc)
    resolveLww(all
      .withColumn("_win_ts", first(col("ingest_ts")).over(w))
      .withColumn("_win_ver", first(col("page_ver")).over(w))
      .filter(col("ingest_ts") <=> col("_win_ts") &&
        col("page_ver") <=> col("_win_ver"))
      .drop("_win_ts", "_win_ver"))
  }

  /** The COMMIT half of the tmp/bak dance, shared by [[crawlCompact]]
    * and [[graft.io.IvfIndex]]'s build and fold:
    * `tmp` must already hold the COMPLETE new table. Renames dst→bak,
    * tmp→dst, drops bak; a failed promotion restores the old table (and
    * says which state survived if even that fails). ONE definition so
    * the [[recoverSwap]] invariant — bak exists ⇒ tmp was complete — is
    * enforced by construction at every caller, not by hand-rolled
    * copies drifting apart. */
  private[graft] def swapInto(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path,
      bak: org.apache.hadoop.fs.Path, what: String): Unit = {
    if (fs.exists(dst) && !fs.rename(dst, bak))
      throw new java.io.IOException(s"$what: rename $dst -> $bak failed; previous table intact")
    if (!fs.rename(tmp, dst)) {
      if (fs.exists(dst)) {
        // a concurrent recoverSwap (a reader landing in the two-rename
        // window) already rolled OUR complete tmp forward: the new table
        // is live, so finish the commit rather than "restore" — on HDFS
        // rename(bak, dst) with dst present would nest the old table
        // INSIDE the live one and no recovery path would ever clean it
        if (fs.exists(bak)) fs.delete(bak, true)
        return
      }
      if (fs.exists(bak) && fs.rename(bak, dst))
        throw new java.io.IOException(
          s"$what: rename $tmp -> $dst failed; previous table restored")
      // name the path that actually holds data: on a FIRST-EVER write no
      // bak was created (dst didn't exist), so the complete new table
      // sits at tmp — and the next recoverSwap will deliberately discard
      // it (tmp-only is indistinguishable from a half-written first
      // table), so the retry rebuilds from source
      throw new java.io.IOException(
        s"$what: rename $tmp -> $dst failed AND restore failed; data intact at " +
          (if (fs.exists(bak)) bak else tmp))
    }
    if (fs.exists(bak)) fs.delete(bak, true)
  }

  /** Roll an interrupted [[swapInto]] to a consistent state.
    * Invariant of the swap order: `bak` only comes into existence via
    * the dst→bak rename, which happens strictly AFTER the tmp write
    * finishes — so `bak` present is the proof that `tmp` is a complete
    * merged table. Without it, a `tmp` next to a missing `dst` is an
    * unfinished FIRST-EVER write (the table never existed) and must be
    * discarded, not promoted: renaming a half-written directory into
    * place would leave an unreadable "table" that wedges every retry.
    *  - dst missing, tmp AND bak present → crashed between dst→bak and
    *    tmp→dst: roll FORWARD (tmp→dst, drop bak);
    *  - dst missing, only bak present → roll BACK (bak→dst); the
    *    retried write re-merges on top;
    *  - dst missing, only tmp present → first-write crash mid-write:
    *    delete tmp; the retried write rebuilds it;
    *  - dst present → any tmp is an unfinished write and any bak is a
    *    completed swap's leftover: both are stale, delete them. */
  private[graft] def recoverSwap(fs: org.apache.hadoop.fs.FileSystem,
      dst: org.apache.hadoop.fs.Path, tmp: org.apache.hadoop.fs.Path,
      bak: org.apache.hadoop.fs.Path): Unit = {
    if (!fs.exists(dst)) {
      if (fs.exists(tmp) && fs.exists(bak)) {
        if (!fs.rename(tmp, dst))
          throw new java.io.IOException(s"recoverSwap: roll-forward $tmp -> $dst failed")
      } else if (fs.exists(bak)) {
        if (!fs.rename(bak, dst))
          throw new java.io.IOException(s"recoverSwap: roll-back $bak -> $dst failed")
      } else if (fs.exists(tmp)) {
        fs.delete(tmp, true) // unfinished first-ever write
      }
    }
    if (fs.exists(dst)) {
      if (fs.exists(tmp)) fs.delete(tmp, true)
      if (fs.exists(bak)) fs.delete(bak, true)
    }
  }

  /** The STREAMING crawl chain's extract step: WARC shard bytes →
    * [[graft.operators.Warc.warcHtmlBlocksCanonical]] (response
    * records, 200 + text/html, boilerplate-filtered main-content
    * blocks) → ledger key and version stamps. The ledger key is
    * (crawl_key, block_idx) where `crawl_key` = canonicalized
    * rel=canonical-else-fetch-url — the page's DECLARED identity: an
    * amp/mobile twin pair pointing at the same canonical collapses to
    * one corpus row even across micro-batches and even when the twins'
    * texts differ (the batch-side `canonical_dedup` semantics, honored
    * in the stream). A re-crawl whose content changed REPLACES the
    * previous extraction (the S12 upsert contract); content-level
    * near-dup detection stays with the downstream dedup tier. The
    * `warc` shard column is dropped: two shards carrying the same page
    * must collapse to ONE row, and which shard won is meaningless
    * under LWW. */
  private def crawlBlocksStamped(batch: DataFrame): DataFrame = {
    // one version stamp per RENDERING (crawl_key x fetched url): the
    // order-insensitive sum of per-block hashes over the extraction --
    // every block of one extraction carries the same page_ver, so the
    // resolve can keep/replace extractions WHOLE (a re-crawl with
    // fewer blocks must not leave the old surplus rows behind)
    val pageW = Window.partitionBy(col("crawl_key"), col("url"))
    graft.operators.Warc.warcHtmlBlocksCanonical(batch)
      // canonical-url-else-url, through the canonicalizer: twin pages
      // whose declared identities differ only by case/utm/default-port
      // noise normalize to the same key
      .withColumn("crawl_key", graft.operators.UrlOps.canonicalizeUrl(
        coalesce(col("canonical"), col("url"))))
      .withColumn("fp", TextAnalysis.fingerprint(concat_ws("\u0000",
        col("crawl_key"), col("block_idx"))))
      // per-block hashes folded mod a large prime: order-insensitive,
      // and the sum cannot overflow ANSI long arithmetic at any
      // realistic block count (< 1e13 for thousands of blocks)
      .withColumn("page_ver",
        sum(pmod(xxhash64(col("url"), col("block_idx"), col("content")),
          lit(1000000007L))).over(pageW))
      // the LWW window tie-breaks on doc_id: include the content hash
      // so two twins landing in the SAME micro-batch (equal ingest_ts)
      // still resolve identically everywhere
      .withColumn("doc_id",
        xxhash64(col("crawl_key"), col("block_idx"), col("content")))
      .withColumn("ingest_ts", current_timestamp())
      .drop("warc", "canonical")
  }

  /** One micro-batch of the streaming crawl, in the LSM shape a
    * CONTINUOUS crawl needs: each micro-batch extracts its blocks and
    * APPENDS one parquet segment under `<target>_seg`; no table read,
    * no corpus-sized window, no tmp/bak swap on the batch path (the
    * round-16 anchor showed the per-batch read-merge-rewrite cycle
    * dominating the stream's floor — 3 micro-batches paid 3 full table
    * rewrites for a 4-row corpus). LWW resolution moves to read/compact
    * time: [[crawlCorpusView]] is the always-correct view,
    * [[crawlCompact]] folds the segments into the base table (amortized
    * across many batches — the Delta/Iceberg MERGE cadence). An
    * at-least-once replayed batch simply re-appends; the fp-keyed
    * newest-wins window collapses the copies at resolve time, so
    * idempotence is preserved without any per-batch table scan. */
  def crawlAppendBatch(spark: SparkSession, batch: DataFrame,
                       targetDir: String): Unit =
    crawlBlocksStamped(batch).write.mode("append").parquet(targetDir + "_seg")

  /** The resolved corpus over base table + appended segments:
    * [[crawlResolve]]'s winning rendering per page, then one fp-keyed
    * newest-wins window (ties on `ingest_ts` break by `doc_id` desc). */
  def crawlCorpusView(spark: SparkSession, targetDir: String): DataFrame = {
    val segDir = targetDir + "_seg"
    val fs = new org.apache.hadoop.fs.Path(targetDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val parts = Seq(targetDir, segDir)
      .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      .map(spark.read.parquet(_))
    require(parts.nonEmpty, s"crawlCorpusView: nothing at $targetDir(_seg)")
    val all = parts.reduce(_.unionByName(_, allowMissingColumns = true))
    crawlResolve(all)
  }

  /** Fold the appended segments into the base table (the amortized
    * compaction [[crawlAppendBatch]] defers to): materialize
    * [[crawlCorpusView]] through the crash-safe tmp/bak swap
    * ([[swapInto]]), then drop the segments. A crash between swap and
    * segment delete is benign: the next view/compact unions rows that
    * are already in the base and the LWW window collapses them —
    * idempotent by construction. */
  def crawlCompact(spark: SparkSession, targetDir: String): Unit = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(targetDir)
    val tmp = new org.apache.hadoop.fs.Path(targetDir + "_tmp")
    val bak = new org.apache.hadoop.fs.Path(targetDir + "_bak")
    val seg = new org.apache.hadoop.fs.Path(targetDir + "_seg")
    val fs = dst.getFileSystem(hadoopConf)
    recoverSwap(fs, dst, tmp, bak)
    if (fs.exists(seg)) {
      crawlCorpusView(spark, targetDir).write.mode("overwrite").parquet(tmp.toString)
      swapInto(fs, dst, tmp, bak, "crawlCompact")
      fs.delete(seg, true)
      ()
    }
  }

  // ---- streaming crawl frontier: per-host politeness state -----------

  case class FrontierSlot(host: String, url: String, priority_micro: Long,
                          fetch_rank: Int, fetch_tick_sec: Long)

  /** Per-host politeness scheduling over a STREAM of discovered URLs —
    * the `transformWithState` twin of
    * [[graft.operators.UrlOps.crawlFrontier]]: each host key durably
    * remembers how many fetch slots it has handed out; every arriving
    * URL takes the next rank (and its `(rank−1)·crawlDelaySec` polite
    * tick) until the host's lifetime `hostBudget` is exhausted, after
    * which the host's URLs are dropped (the batch operator's rank
    * filter, made durable).
    *
    * Ordering contract: WITHIN a micro-batch a host's URLs rank by
    * (priority desc, url asc) — identical to the batch window — but
    * ACROSS batches ranks follow arrival order, because a stream
    * cannot re-rank slots already handed out. One batch holding the
    * whole frontier therefore equals the batch operator exactly (the
    * parity the spec pins); a drip-fed frontier trades global priority
    * order for bounded state and immediate scheduling, which is what a
    * live crawler wants anyway. State per host is ONE int.
    *
    * `hostDelays` carries each host's OWN robots `Crawl-delay`
    * (host → seconds; hosts not listed fall back to `crawlDelaySec`) —
    * the per-host politeness the batch twin's broadcast delay join
    * gives. It rides the processor's closure: only hosts with an
    * EXPLICIT robots delay appear, a bounded sidecar, never
    * frontier-sized. */
  class FrontierProcessor(hostBudget: Int, crawlDelaySec: Int,
                          hostDelays: Map[String, Int] = Map.empty)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, (String, String, Long), FrontierSlot] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var emitted: ValueState[Int] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      emitted = getHandle.getValueState[Int]("emitted", E.scalaInt, TTLConfig.NONE)
    override def handleInputRows(host: String,
                                 rows: Iterator[(String, String, Long)],
                                 tv: TimerValues): Iterator[FrontierSlot] = {
      var n = if (emitted.exists()) emitted.get() else 0
      val delay = hostDelays.getOrElse(host, crawlDelaySec).toLong
      val out = Seq.newBuilder[FrontierSlot]
      // batch-window order within the micro-batch: priority desc, url asc
      rows.toSeq.sortBy(r => (-r._3, r._2)).foreach { case (_, url, prio) =>
        if (n < hostBudget) {
          n += 1
          out += FrontierSlot(host, url, prio, n, (n - 1).toLong * delay)
        }
      }
      emitted.update(n)
      out.result().iterator
    }
  }

  def streamingFrontier(urls: DataFrame, hostBudget: Int = 5,
                        crawlDelaySec: Int = 1,
                        hostDelays: Map[String, Int] = Map.empty)
      : org.apache.spark.sql.Dataset[FrontierSlot] = {
    import urls.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    urls.select(graft.operators.UrlOps.urlHost(col("url")).as("host"),
        col("url"), col("priority_micro"))
      .as[(String, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new FrontierProcessor(hostBudget, crawlDelaySec, hostDelays),
        TimeMode.None(), OutputMode.Append())
  }


  // ---- streaming incremental recrawl: per-URL validator state --------

  case class RecrawlDue(url: String, batch_id: Long)
  case class RecrawlResult(url: String, batch_id: Long, not_modified: Boolean,
                           refetched: Boolean, attempts: Int, has_etag: Boolean)

  /** Incremental recrawl as a stateful stream — the
    * `transformWithState` twin of
    * [[graft.operators.UrlIngest.fetchBytesConditional]]: each URL key
    * durably remembers the validator (`ETag`) its LAST fetch returned;
    * every time the URL comes due it is revalidated with
    * `If-None-Match`, so an unchanged page costs one header exchange
    * (304, `not_modified=true`, no body travels) and only a CHANGED
    * page re-enters the extract pipeline with a fresh validator stored
    * for the next cycle. One fetch per key per micro-batch no matter
    * how many schedulers mark it due (arrivals within a batch
    * collapse). State per URL is ONE string — the recrawl ledger a
    * production crawler keeps, sharded across executors by the state
    * store instead of centralized.
    *
    * The fetch runs INSIDE the per-key processor — the same executor
    * kernel placement as the batch fetch UDF; parallelism = state
    * partitions. Requires the RocksDB state-store provider (the
    * `transformWithState` backing). */
  class RecrawlProcessor(maxBytes: Long, maxRetries: Int, backoffMs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[
        String, RecrawlDue, RecrawlResult] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var validator: ValueState[String] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      validator = getHandle.getValueState[String]("etag", E.STRING, TTLConfig.NONE)
    override def handleInputRows(url: String, rows: Iterator[RecrawlDue],
                                 tv: TimerValues): Iterator[RecrawlResult] = {
      val batch = rows.map(_.batch_id).max // collapse duplicate due-marks
      val prior = if (validator.exists()) validator.get() else null
      val f = graft.operators.UrlIngest.fetchOne(url, maxBytes, maxRetries,
        backoffMs, graft.operators.UrlIngest.MaxRedirects,
        maxRetryAfterMs = 30000L, etag = prior)
      if (f.etag != null) validator.update(f.etag)
      Iterator.single(RecrawlResult(url, batch, f.not_modified,
        refetched = f.content != null, f.attempts, f.etag != null))
    }
  }

  def streamingRecrawl(due: org.apache.spark.sql.Dataset[RecrawlDue],
                       maxBytes: Long = graft.operators.UrlIngest.MaxFileSize,
                       maxRetries: Int = 3, backoffMs: Long = 0L)
      : org.apache.spark.sql.Dataset[RecrawlResult] = {
    import due.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    due.groupByKey(_.url)
      .transformWithState(new RecrawlProcessor(maxBytes, maxRetries, backoffMs),
        TimeMode.None(), OutputMode.Append())
  }

  /** List the `ledgerDir/v<N>` version subdirectories: (all version
    * numbers present, committed version numbers). Committed = carries
    * Spark's `_SUCCESS` marker — an uncommitted dir is a crashed
    * write's debris, never read. Hadoop FS, not java.io.File: the
    * ledger lives wherever the pipeline's storage is (HDFS/S3/local). */
  private def ledgerVersions(spark: org.apache.spark.sql.SparkSession,
                             ledgerDir: String)
      : (Array[org.apache.hadoop.fs.FileStatus], Seq[Long], Seq[Long]) = {
    val root = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val entries: Array[org.apache.hadoop.fs.FileStatus] =
      if (fs.exists(root)) fs.listStatus(root)
      else Array.empty
    val versionDirs = entries
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
    val all = versionDirs.map(_.getPath.getName.drop(1).toLong).toSeq
    val committed = versionDirs
      .filter(st => fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS")))
      .map(_.getPath.getName.drop(1).toLong).toSeq
    (entries, all, committed)
  }

  /** Generic versioned-state reader: (latest committed state under
    * `dir`, the version number the next write should use). Versions
    * are a monotone sequence `v0, v1, ...` independent of micro-batch
    * ids (a fresh checkpoint restarts batch ids at 0, but the state's
    * history keeps counting) — each write lands in a NEW version dir,
    * never overwriting a committed one, so a crash mid-write can only
    * lose the version being written, never the history. Bootstrap: no
    * committed version subdirs => fall back to a flat parquet table at
    * `dir` itself (the batch-pipeline seed layout); if the path does
    * not exist at all => `empty`, the fresh-deployment bootstrap frame
    * — each state family brings its own schema. */
  private[graft] def versionedLatest(spark: org.apache.spark.sql.SparkSession,
                                     dir: String, empty: => DataFrame)
      : (DataFrame, Long) = {
    val (entries, all, committed) = ledgerVersions(spark, dir)
    val next = if (all.isEmpty) 0L else all.max + 1L
    val df =
      if (committed.nonEmpty)
        spark.read.parquet(s"$dir/v${committed.max}")
      else if (entries.exists(st => st.isFile &&
          (st.getPath.getName.endsWith(".parquet") || st.getPath.getName == "_SUCCESS")))
        spark.read.parquet(dir)
      else empty
    (df, next)
  }

  private def emptyFpLedger(spark: SparkSession): DataFrame =
    spark.range(0).select(
      col("id").cast("string").as("fp"), lit(null).cast("long").as("keeper_id"))

  /** Streaming exact dedup against the PERSISTED fingerprint ledger —
    * [[graft.operators.Dedup.exactDupsIncremental]] lifted to a 24/7
    * ingest: per micro-batch, classify the arrivals against the latest
    * committed ledger state at `ledgerDir` (cross_snapshot / in_batch /
    * original), land the verdicts under `verdictDir` partitioned by
    * batch id, and write the post-batch ledger
    * ([[graft.operators.Dedup.ledgerAfter]]) as a NEW version
    * `ledgerDir/v<N>` (see [[versionedLatest]]) so the next batch — or
    * tomorrow's restart, even with a fresh checkpoint — sees every
    * fingerprint ever ingested. The ledger IS the durable state, kept
    * OUTSIDE the stream checkpoint (survives checkpoint wipes, shared
    * with the batch pipeline, bucketable on fp); at-least-once replays
    * are idempotent on every side: the verdict write is a dynamic
    * per-batch partition overwrite; a replayed batch reads a ledger
    * that already carries its fingerprints, where
    * [[graft.operators.Dedup.ledgerAfter]] is a FIXPOINT (prior keepers
    * win by first sighting — the appended version is byte-equal
    * content, never a regression) and a redelivered canonical copy
    * classifies `original` via the incremental operator's self-keeper
    * rule instead of becoming a duplicate of itself. Old versions are
    * retained as the ledger's history (each is
    * fingerprint-ledger-sized; the reader only ever opens the latest
    * committed one). Caller starts/stops the query. */
  def streamingLedgerDedup(docs: DataFrame, ledgerDir: String,
                           verdictDir: String, checkpointDir: String)
      : DataStreamWriter[Row] =
    versionedLedgerSink(docs, ledgerDir, verdictDir, checkpointDir, emptyFpLedger,
      graft.operators.Dedup.exactDupsIncremental(_, _),
      graft.operators.Dedup.ledgerAfter(_, _))

  /** Streaming NEAR-dup against the persisted banded-SimHash keeper
    * ledger — [[streamingLedgerDedup]]'s sibling on the near-dup tier
    * ([[graft.operators.Dedup.simhashPairsIncremental]] lifted to a
    * 24/7 ingest): per micro-batch, emit the batch's near-dup pairs
    * against the latest committed ledger version (`source = ledger`)
    * plus the capped in-batch pairs (`source = batch`), land them
    * under `pairsDir` partitioned by batch id, and write the
    * post-batch ledger ([[graft.operators.Dedup.simhashLedgerAfter]] —
    * prior keepers win their slots, O(buckets · cap) forever) as a new
    * immutable `ledgerDir/v<N>`. Same durability/replay contract as
    * the exact tier: versions never overwrite committed history,
    * bootstrap is a flat seed parquet or an empty banding, the verdict
    * write is a per-batch dynamic partition overwrite, and a
    * redelivered doc meeting ITSELF in the ledger is excluded by the
    * pair operator's self-id rule (it still pairs against its
    * legitimate bucket mates — deterministic under replay). */
  def streamingNearDupLedger(docs: DataFrame, ledgerDir: String,
                             pairsDir: String, checkpointDir: String,
                             maxHamming: Int = 3, cap: Int = 64)
      : DataStreamWriter[Row] =
    versionedLedgerSink(docs, ledgerDir, pairsDir, checkpointDir,
      _.range(0).select(col("id"),
        lit(null).cast("long").as("simhash"),
        lit(null).cast("int").as("band"),
        lit(null).cast("long").as("bucket")),
      graft.operators.Dedup.simhashPairsIncremental(_, _, maxHamming, cap),
      graft.operators.Dedup.simhashLedgerAfter(_, _, cap))

  /** The `foreachBatch` body both versioned-ledger streams share: pin
    * the batch, read the latest committed ledger version (`empty` when
    * there is none), land `classify(batch, ledger)` under `outDir` as a
    * per-batch dynamic partition overwrite, then write
    * `next(batch, ledger)` as the new version `ledgerDir/v<N>`. */
  private def versionedLedgerSink(docs: DataFrame, ledgerDir: String, outDir: String,
                                  checkpointDir: String, empty: SparkSession => DataFrame,
                                  classify: (DataFrame, DataFrame) => DataFrame,
                                  next: (DataFrame, DataFrame) => DataFrame)
      : DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint()
        val (ledger, nextVersion) = versionedLatest(spark, ledgerDir, empty(spark))
        classify(b, ledger)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(outDir)
        // materialize before writing (the updated ledger is
        // ledger-sized, not corpus-sized); overwrite can only touch the
        // fresh version dir (an uncommitted crash residue at worst),
        // never a committed version
        next(b, ledger).localCheckpoint()
          .write.mode("overwrite").parquet(s"$ledgerDir/v$nextVersion")
      }
}
