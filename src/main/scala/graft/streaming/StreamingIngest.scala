package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.Row
import graft.operators.TextAnalysis

/** Structured-Streaming face of the ingest pipeline (SURVEY.md §2.10).
  *
  * The reference ingests documents asynchronously under bounded
  * concurrency, idempotent by content hash, with upsert-overwrite
  * semantics in the vector index
  * (`ingestion_service.py:387,92-106`, `pinecone_manager.py:78,90`).
  * Streaming mapping: a file/`readStream` source replaces the arrival
  * loop (`maxFilesPerTrigger` = the semaphore), watermarked
  * `dropDuplicates` on the content fingerprint replaces the hash cache,
  * and a `foreachBatch` last-write-wins merge into the parquet index
  * table replaces the Pinecone upsert. Checkpointing gives the
  * exactly-once behavior the reference approximates with its cache.
  */
object StreamingIngest {

  /** Dedup + stamp stage, shared by batch and streaming callers: content
    * fingerprint (S2), ingest timestamp, in-stream duplicate drop bounded
    * by a watermark so state doesn't grow forever. */
  def dedupStage(docs: DataFrame, withWatermark: Boolean = true): DataFrame = {
    val stamped = docs
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))
      .withColumn("ingest_ts", current_timestamp())
    val wm = if (withWatermark) stamped.withWatermark("ingest_ts", "10 minutes")
             else stamped
    wm.dropDuplicates("fp")
  }

  /** Last-write-wins merge of a micro-batch into the parquet `target`
    * table (S12 upsert semantics, keyed on `fp`): union old+new, keep the
    * newest row per key (ties on `ingest_ts` — a same-second re-ingest or
    * a retried batch — break deterministically by `doc_id` desc).
    * Overwrite-rewrite keeps it dependency-free; on a Delta/Iceberg table
    * this becomes a real MERGE.
    *
    * Crash safety: the swap is write-tmp → rename dst→bak → rename
    * tmp→dst → delete bak, so a FULL copy of the table exists on disk at
    * every instant; [[recoverSwap]] rolls an interrupted swap forward (or
    * back) before the merge reads `existing`. A failed rename aborts the
    * batch (checkpoint retries after recovery) — never a silent rebuild
    * of the table from one micro-batch. */
  def upsertBatch(spark: SparkSession, batch: DataFrame, targetDir: String): Unit =
    upsertBatchWith(spark, batch, targetDir, resolveLww)

  /** The fp-keyed newest-wins resolution [[upsertBatch]] and the
    * segment views share: ONE row per fp, latest `ingest_ts`, ties by
    * `doc_id` desc. */
  private def resolveLww(all: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("fp"))
      .orderBy(col("ingest_ts").desc, col("doc_id").desc)
    all.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1).drop("_rn")
  }

  /** [[upsertBatch]] with a caller-chosen merge resolution — the crawl
    * path resolves per PAGE ([[crawlResolve]]), everything else per
    * row key ([[resolveLww]]); the crash-safe swap is identical. */
  private def upsertBatchWith(spark: SparkSession, batch: DataFrame,
                              targetDir: String,
                              resolve: DataFrame => DataFrame): Unit = {
    val hadoopConf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(targetDir)
    val tmp = new org.apache.hadoop.fs.Path(targetDir + "_tmp")
    val bak = new org.apache.hadoop.fs.Path(targetDir + "_bak")
    // resolve the TARGET's filesystem — FileSystem.get(conf) would
    // resolve fs.defaultFS and break for any other scheme (s3a://, ...)
    val fs = dst.getFileSystem(hadoopConf)
    recoverSwap(fs, dst, tmp, bak)
    // Treat ONLY a missing table as empty; any other read failure
    // (transient FS error, corrupt footer) must abort the batch — the
    // merge would otherwise silently rebuild the table from this batch
    // alone, destroying all previously ingested rows.
    val existing =
      if (fs.exists(dst)) spark.read.parquet(targetDir)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], batch.schema)
    val merged = resolve(existing.unionByName(batch, allowMissingColumns = true))
    merged.write.mode("overwrite").parquet(tmp.toString)
    swapInto(fs, dst, tmp, bak, "upsertBatch")
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

  /** The COMMIT half of the tmp/bak dance, shared by [[upsertBatch]],
    * [[graft.io.Tables.compact]] and [[graft.io.IvfIndex.build]]:
    * `tmp` must already hold the COMPLETE new table. Renames dst→bak,
    * tmp→dst, drops bak; a failed promotion restores the old table (and
    * says which state survived if even that fails). ONE definition so
    * the [[recoverSwap]] invariant — bak exists ⇒ tmp was complete — is
    * enforced by construction at every caller, not by three hand-rolled
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

  /** Roll an interrupted [[upsertBatch]] swap to a consistent state.
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
    *    retried batch re-merges on top;
    *  - dst missing, only tmp present → first-batch crash mid-write:
    *    delete tmp; the retried batch rebuilds it;
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

  /** End-to-end ingest stream: JSON-lines documents arriving in `srcDir`
    * → fingerprint dedup → last-write-wins upsert into `targetDir`.
    * `maxFilesPerTrigger=5` mirrors the reference's download semaphore
    * (`ingestion_service.py:376`). Caller starts/stops the query. */
  def ingestStream(spark: SparkSession, srcDir: String, targetDir: String,
                   checkpointDir: String): DataStreamWriter[Row] = {
    val schema = "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG"
    val src = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 5)
      .json(srcDir)
    dedupStage(src).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, _: Long) =>
        upsertBatch(spark, batch, targetDir)
      }
  }

  /** One micro-batch of the STREAMING crawl chain: WARC shard bytes →
    * [[graft.operators.Warc.warcHtmlBlocks]] (response records, 200 +
    * text/html, boilerplate-filtered main-content blocks) → content
    * fingerprint → last-write-wins merge into the parquet corpus table.
    * The batch twin is `warcHtmlBlocks` alone; this adds the S2
    * idempotence a continuous crawl needs — a RE-crawled page (same
    * url/block/content ⇒ same fp) replaces its previous row instead of
    * duplicating it, and an at-least-once replayed micro-batch is a
    * no-op. The ledger key is (crawl_key, block_idx) where `crawl_key`
    * = canonicalized rel=canonical-else-fetch-url — the page's DECLARED
    * identity: an amp/mobile twin pair pointing at the same canonical
    * collapses to one corpus row even across micro-batches and even
    * when the twins' texts differ (the batch-side `canonical_dedup`
    * semantics, honored in the stream). A re-crawl whose content
    * changed REPLACES the previous extraction (true last-write-wins —
    * the S12 upsert contract); content-level near-dup detection stays
    * with the downstream dedup tier.
    *
    * Scale shape: the extract is the batch chain's zero-shuffle map
    * pass; the merge costs one fp-hash shuffle over existing ∪ batch —
    * on a real table this becomes a Delta/Iceberg MERGE (the
    * [[upsertBatch]] contract). The `warc` shard column is dropped
    * before the merge: two shards carrying the same page must collapse
    * to ONE row, and which shard won is meaningless under LWW. */
  def crawlUpsertBatch(spark: SparkSession, batch: DataFrame,
                       targetDir: String): Unit =
    upsertBatchWith(spark, crawlBlocksStamped(batch), targetDir, crawlResolve)

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

  /** The O(batch) alternative to [[crawlUpsertBatch]] — the LSM shape a
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

  /** The resolved corpus over base table + appended segments: one
    * fp-keyed newest-wins window, identical to [[upsertBatch]]'s merge
    * semantics (ties on `ingest_ts` break by `doc_id` desc). */
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
    * [[crawlCorpusView]] through the same crash-safe tmp/bak swap as
    * [[upsertBatch]], then drop the segments. A crash between swap and
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

  /** Streaming sessionization: event-time `session_window` with a 30 min
    * gap under a watermark — the streaming twin of
    * [[graft.operators.EventOps.sessionize]]'s batch gaps-and-islands.
    * State per (user, open session), expired by the watermark. */
  def sessionWindowAgg(events: DataFrame, gap: String = "30 minutes",
                       watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(session_window(col("ts"), gap).as("sw"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("user_id"), col("sw.start").as("session_start"),
        col("sw.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Streaming retrieval — the reference's interactive per-request query
    * path (`main.py:92-127`) as a stream: questions arrive on a stream,
    * the vector index is a static table, and each micro-batch runs the
    * exact same batch kNN (stream-static join; the static side is
    * re-broadcast per batch, so index updates between batches are
    * picked up). Top-k ranking needs the full batch → `foreachBatch`
    * delegating to [[graft.operators.Retrieval.knnCosine]]; `sink` gets
    * each batch's answers. */
  def streamingRetrieval(questions: DataFrame, index: DataFrame, k: Int,
                         sink: DataFrame => Unit): DataStreamWriter[Row] =
    questions.writeStream
      .outputMode("update")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sink(graft.operators.Retrieval.knnCosine(batch, index, k))
      }

  /** Stream-stream interval join: each click joined to the purchases of
    * the same user that happen within `windowSec` AFTER it — the
    * streaming twin of [[graft.operators.AsOf.rangeJoin]]. Both sides
    * carry watermarks and the join condition bounds event time in both
    * directions, so Spark can size the state store and EVICT rows the
    * watermark has passed — without the time bound the state grows
    * forever. The join key is the user equi-key; the interval is a
    * post-condition on it, exactly the skew-safe shape the batch range
    * join uses. */
  def clickPurchaseJoin(clicks: DataFrame, purchases: DataFrame,
                        windowSec: Int = 600, watermark: String = "1 hour"): DataFrame = {
    val l = clicks.withWatermark("ts", watermark)
      .select(col("user_id"), col("event_id").as("click_id"), col("ts").as("click_ts"))
    val r = purchases.withWatermark("ts", watermark)
      .select(col("user_id").as("p_user_id"), col("event_id").as("purchase_id"),
        col("ts").as("purchase_ts"))
    l.join(r,
      col("user_id") === col("p_user_id") &&
        col("purchase_ts") > col("click_ts") &&
        col("purchase_ts") <= col("click_ts") + expr(s"INTERVAL $windowSec SECONDS"))
      .select(col("user_id"), col("click_id"), col("purchase_id"),
        col("click_ts"), col("purchase_ts"))
  }

  // ---- custom state: flatMapGroupsWithState ---------------------------

  case class FpDoc(fp: String, doc_id: Long, ingest_epoch: Long)
  case class FpState(first_doc_id: Long, n_seen: Long)
  case class FpDecision(fp: String, doc_id: Long, is_new: Boolean, dup_of: Long)

  /** Stateful streaming dedup with explicit per-key state
    * (`flatMapGroupsWithState`, SURVEY §2.11's custom-state tier): the
    * first arrival of each content fingerprint is emitted `is_new=true`;
    * later arrivals are tagged as duplicates of the keeper — the exact
    * streaming analogue of the reference's hash-cache hit/miss
    * (`ingestion_service.py:294-299`), with state that outlives a single
    * micro-batch (unlike `dropDuplicates`, this reports the dup mapping).
    * With `stateTtlMs` set, `ProcessingTimeTimeout` evicts idle keys like
    * the reference's cache eviction (S16) — use it only with a real
    * trigger interval: pending timeouts make the zero-interval
    * micro-batch loop spin continuously (batches re-fire to check the
    * clock), which also means `processAllAvailable` never settles in
    * tests. Default is NoTimeout. */
  def statefulDedup(docs: org.apache.spark.sql.Dataset[FpDoc],
                    stateTtlMs: Option[Long] = None): org.apache.spark.sql.Dataset[FpDecision] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeoutConf = if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
                      else GroupStateTimeout.NoTimeout()
    docs.groupByKey(_.fp)
      .flatMapGroupsWithState[FpState, FpDecision](OutputMode.Append(), timeoutConf) {
        (fp: String, rows: Iterator[FpDoc], state: GroupState[FpState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            val sorted = rows.toSeq.sortBy(r => (r.ingest_epoch, r.doc_id))
            var st = state.getOption.getOrElse(FpState(-1L, 0L))
            val out = sorted.map { r =>
              if (st.first_doc_id < 0) {
                st = FpState(r.doc_id, 1L)
                FpDecision(fp, r.doc_id, is_new = true, dup_of = -1L)
              } else {
                st = st.copy(n_seen = st.n_seen + 1)
                FpDecision(fp, r.doc_id, is_new = false, dup_of = st.first_doc_id)
              }
            }
            state.update(st)
            stateTtlMs.foreach(state.setTimeoutDuration)
            out.iterator
          }
      }
  }

  // ---- custom state: transformWithState (Spark 4 arbitrary state) -----

  case class UserEvent(user_id: Long, value: Double)
  case class UserTotal(user_id: Long, n_events: Long, total_value: Double,
                       batches_seen: Long)

  /** Running per-user totals through `transformWithState` — Spark 4's
    * arbitrary-state API (the successor to `flatMapGroupsWithState`
    * [[statefulDedup]] uses): typed `ValueState` in the RocksDB state
    * store, explicit `init`, per-key input iteration. Each micro-batch
    * emits the UPDATED cumulative (count, sum, batches) row per user
    * that received events — the streaming analogue of the reference's
    * per-request usage counters (`embedding_generator.py:169-179`) kept
    * durably across batches. Requires
    * `spark.sql.streaming.stateStore.providerClass` =
    * RocksDBStateStoreProvider (the only provider backing the new API). */
  class RunningTotalProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, UserEvent, UserTotal] {
    import org.apache.spark.sql.streaming.{TimerValues, TTLConfig, ValueState}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var state: ValueState[UserTotal] = _
    override def init(outputMode: org.apache.spark.sql.streaming.OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      state = getHandle.getValueState[UserTotal]("totals",
        E.product[UserTotal], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[UserEvent],
                                 tv: TimerValues): Iterator[UserTotal] = {
      val prev = if (state.exists()) state.get() else UserTotal(key, 0L, 0.0, 0L)
      var n = prev.n_events
      var tot = prev.total_value
      rows.foreach { r => n += 1; tot += r.value }
      val next = UserTotal(key, n, tot, prev.batches_seen + 1)
      state.update(next)
      Iterator.single(next)
    }
  }

  def runningUserTotals(
      events: org.apache.spark.sql.Dataset[UserEvent]): org.apache.spark.sql.Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
    events.groupByKey(_.user_id)
      .transformWithState(new RunningTotalProcessor,
        TimeMode.None(), OutputMode.Update())
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

  // ---- streaming NEAR-dup: banded SimHash with per-bucket state ------

  case class NearDoc(doc_id: Long, text: String, ingest_epoch: Long)
  case class NearDupHit(doc_id: Long, dup_of: Long, hamming: Int)
  case class BandState(ids: List[Long], fps: List[Long])

  /** Streaming NEAR-duplicate detection — the banding half of
    * [[graft.operators.Dedup.simhashPairs]] lifted onto per-bucket
    * stream state. Each document's per-row 60-bit SimHash
    * ([[graft.operators.Dedup.simhash60Col]] — computed BEFORE any
    * stateful operator, so the query stays a single flatMapGroups stage)
    * explodes into 4 × 15-bit band keys; each (band, bucket) group keeps
    * the fingerprints it has seen and reports every incoming document
    * within `maxHamming` XOR-popcount bits of a stored one, tagged with
    * the EARLIEST matching keeper of that bucket. Pigeonhole gives the
    * same exact-recall-≤-3 guarantee as the batch operator; a pair
    * sharing several bands is reported by each (consumers
    * `dropDuplicates(doc_id, dup_of)` — band-local state cannot know
    * what other buckets already emitted).
    *
    * Scale/state honesty: per-bucket state is capped at `perBucketCap`
    * fingerprints FIFO (a hot bucket would otherwise grow with the
    * stream; beyond the cap, recall degrades against the evicted tail
    * exactly like a production sliding dedup window), and `stateTtlMs`
    * evicts idle buckets wholesale under the same
    * ProcessingTimeTimeout contract (and caveats) as [[statefulDedup]].
    *
    * The cap is not silent: pass `evictions` to count every
    * fingerprint dropped past `perBucketCap` (across all band buckets).
    * It is an accumulator, so task retries / micro-batch replays can
    * overcount — a MONITORING signal for "this stream is losing
    * recall", not an exactly-once metric; zero still means zero. */
  def streamingNearDups(docs: org.apache.spark.sql.Dataset[NearDoc],
                        maxHamming: Int = 3, perBucketCap: Int = 64,
                        stateTtlMs: Option[Long] = None,
                        evictions: Option[org.apache.spark.util.LongAccumulator] = None)
      : org.apache.spark.sql.Dataset[NearDupHit] = {
    import docs.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val timeoutConf = if (stateTtlMs.isDefined) GroupStateTimeout.ProcessingTimeTimeout()
                      else GroupStateTimeout.NoTimeout()
    val banded = docs
      .withColumn("fp", graft.operators.Dedup.simhash60Col(col("text")))
      .select(col("doc_id"), col("ingest_epoch"), col("fp"),
        explode(org.apache.spark.sql.functions.array((0 until 4).map(b =>
          (lit(b.toLong) * 32768L) +
            shiftright(col("fp"), b * 15).bitwiseAND(lit(32767L))): _*))
          .as("band_key"))
      .as[(Long, Long, Long, Long)] // (doc_id, ingest_epoch, fp, band_key)
    banded.groupByKey(_._4)
      .flatMapGroupsWithState[BandState, NearDupHit](OutputMode.Append(), timeoutConf) {
        (_: Long, rows: Iterator[(Long, Long, Long, Long)], state: GroupState[BandState]) =>
          if (state.hasTimedOut) { state.remove(); Iterator.empty }
          else {
            var st = state.getOption.getOrElse(BandState(Nil, Nil))
            // oldest-first within the batch so in-batch pairs resolve to
            // the earliest keeper, like the batch operator's id order
            val sorted = rows.toSeq.sortBy(r => (r._2, r._1))
            val out = Seq.newBuilder[NearDupHit]
            sorted.foreach { case (id, _, fp, _) =>
              // earliest stored entry within range wins (state lists are
              // append-ordered, so the first hit is the earliest)
              st.ids.iterator.zip(st.fps.iterator)
                .find { case (_, sfp) =>
                  java.lang.Long.bitCount(sfp ^ fp) <= maxHamming } match {
                case Some((keeper, sfp)) =>
                  out += NearDupHit(id, keeper, java.lang.Long.bitCount(sfp ^ fp))
                case None => ()
              }
              val grown = st.ids :+ id
              val dropped = grown.size - perBucketCap
              if (dropped > 0) evictions.foreach(_.add(dropped.toLong))
              st = BandState(grown.takeRight(perBucketCap),
                (st.fps :+ fp).takeRight(perBucketCap))
            }
            state.update(st)
            stateTtlMs.foreach(state.setTimeoutDuration)
            out.result().iterator
          }
      }
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

  private[graft] def ledgerLatest(spark: org.apache.spark.sql.SparkSession,
                                  ledgerDir: String): (DataFrame, Long) = {
    import org.apache.spark.sql.functions.{col, lit}
    versionedLatest(spark, ledgerDir,
      spark.range(0).select(
        col("id").cast("string").as("fp"), lit(null).cast("long").as("keeper_id")))
  }

  /** Streaming exact dedup against the PERSISTED fingerprint ledger —
    * [[graft.operators.Dedup.exactDupsIncremental]] lifted to a 24/7
    * ingest: per micro-batch, classify the arrivals against the latest
    * committed ledger state at `ledgerDir` (cross_snapshot / in_batch /
    * original), land the verdicts under `verdictDir` partitioned by
    * batch id, and write the post-batch ledger
    * ([[graft.operators.Dedup.ledgerAfter]]) as a NEW version
    * `ledgerDir/v<N>` (see [[ledgerLatest]]) so the next batch — or
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
    * fingerprint-ledger-sized; a janitor can prune all but the latest
    * committed version at any time without coordination).
    * Caller starts/stops the query. */
  def streamingLedgerDedup(docs: DataFrame, ledgerDir: String,
                           verdictDir: String, checkpointDir: String)
      : DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val b = batch.localCheckpoint()
        val (ledger, nextVersion) = ledgerLatest(spark, ledgerDir)
        graft.operators.Dedup.exactDupsIncremental(b, ledger)
          .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(verdictDir)
        // materialize before writing (the updated ledger is
        // fingerprint-ledger-sized, not corpus-sized); overwrite can
        // only touch the fresh version dir (an uncommitted crash
        // residue at worst), never a committed version
        val updated = graft.operators.Dedup.ledgerAfter(b, ledger).localCheckpoint()
        updated.write.mode("overwrite").parquet(s"$ledgerDir/v$nextVersion")
      }

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
    * legitimate bucket mates — deterministic under replay).
    * [[pruneLedgerVersions]] applies unchanged. */
  def streamingNearDupLedger(docs: DataFrame, ledgerDir: String,
                             pairsDir: String, checkpointDir: String,
                             maxHamming: Int = 3, cap: Int = 64)
      : DataStreamWriter[Row] =
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import org.apache.spark.sql.functions.{col, lit}
        val spark = batch.sparkSession
        val b = batch.localCheckpoint()
        val (ledger, nextVersion) = versionedLatest(spark, ledgerDir,
          spark.range(0).select(col("id"),
            lit(null).cast("long").as("simhash"),
            lit(null).cast("int").as("band"),
            lit(null).cast("long").as("bucket")))
        graft.operators.Dedup.simhashPairsIncremental(b, ledger, maxHamming, cap)
          .withColumn("batch_id", lit(batchId))
          .write.mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .partitionBy("batch_id").parquet(pairsDir)
        val updated = graft.operators.Dedup
          .simhashLedgerAfter(b, ledger, cap).localCheckpoint()
        updated.write.mode("overwrite").parquet(s"$ledgerDir/v$nextVersion")
      }

  /** The ledger janitor: delete every COMMITTED version below the
    * latest `keep` committed ones, plus any uncommitted crash residue
    * OLDER than the latest committed version (an uncommitted dir newer
    * than it may be a write in flight — never touched). Safe to run at
    * any time, concurrently with the stream: the reader only ever
    * opens the latest committed version, which is always retained
    * (`keep` is clamped to ≥ 1). Returns the deleted version numbers. */
  def pruneLedgerVersions(spark: org.apache.spark.sql.SparkSession,
                          ledgerDir: String, keep: Int = 2): Seq[Long] = {
    val root = new org.apache.hadoop.fs.Path(ledgerDir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    val versionDirs = fs.listStatus(root)
      .filter(st => st.isDirectory && st.getPath.getName.matches("v\\d+"))
      .map(st => (st.getPath.getName.drop(1).toLong, st.getPath,
        fs.exists(new org.apache.hadoop.fs.Path(st.getPath, "_SUCCESS"))))
    val committed = versionDirs.collect { case (v, _, true) => v }.sorted
    if (committed.isEmpty) return Seq.empty
    val keepFloor = committed.takeRight(math.max(1, keep)).head
    val latestCommitted = committed.last
    val doomed = versionDirs.filter { case (v, _, isCommitted) =>
      if (isCommitted) v < keepFloor
      else v < latestCommitted // residue provably superseded
    }
    doomed.foreach { case (_, path, _) => fs.delete(path, true) }
    doomed.map(_._1).sorted.toSeq
  }
}
