package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import graft.functions.{Kernel, NgramJoin, SimHash60}

/** Deduplication operators for the training-data-pipeline tier: exact
  * (hash-groupBy), n-gram Jaccard, and MinHash+LSH near-dup. The scale
  * stance: exact dedup is one shuffle on the fingerprint; near-dup NEVER
  * does the all-pairs cross join — candidates come from shared shingles
  * (Jaccard) or shared MinHash band buckets (LSH), so the join key
  * distributes and the pair space stays sparse.
  */
object Dedup {

  /** Exact duplicate detection: whitespace/case-invariant md5 fingerprint,
    * first doc per fingerprint (lowest id) is the keeper; every other
    * copy is `is_duplicate` with `dup_of` = the keeper id.
    *
    * Plan shape: keeper = `groupBy(fp).agg(min(id))` — a PARTIAL-COMBINED
    * hash aggregate (every mapper collapses its copies of a fingerprint
    * to one row before the exchange) — then an fp equi-join back. This
    * deliberately replaces the earlier `row_number() OVER (PARTITION BY
    * fp)` window: a window cannot map-side combine, so every copy of the
    * hottest fingerprint shuffled to ONE task and sorted there (AQE skew
    * splitting does not apply to window partitions) — a guaranteed
    * degenerate task on the boilerplate corpora exact dedup exists for.
    * The join back IS AQE-skew-splittable (the keeper side is
    * fp-distinct), so the hot key's probe rows spread across tasks. */
  def exactDups(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame = {
    val fpd = docs
      .withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .select(col(idCol), col("fp"))
    val keepers = fpd.groupBy(col("fp")).agg(min(col(idCol)).as("_keeper"))
    fpd.join(keepers, Seq("fp"))
      .select(col(idCol), col("fp"),
        (col(idCol) =!= col("_keeper")).as("is_duplicate"),
        when(col(idCol) =!= col("_keeper"), col("_keeper"))
          .otherwise(lit(null).cast("long")).as("dup_of"))
  }

  /** The cross-snapshot fingerprint LEDGER — the persisted artifact an
    * INCREMENTAL corpus dedup keeps between batches (a production
    * pipeline dedups today's crawl against every prior snapshot without
    * rescanning them: CommonCrawl-style monthly processing): one row
    * per distinct content fingerprint with its canonical keeper (the
    * smallest doc id ever seen). Fingerprint-keyed, so it grows with
    * DISTINCT content, not with corpus-times-snapshots; persist it
    * bucketed on `fp` (`bucketBy` + `saveAsTable`) and the per-batch
    * join below is colocated. */
  def fpLedger(docs: DataFrame, idCol: String = "doc_id",
               textCol: String = "text"): DataFrame =
    docs.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy(col("fp")).agg(min(col(idCol)).as("keeper_id"))

  /** Incremental exact dedup: TODAY'S batch against the prior
    * snapshots' [[fpLedger]]. Per batch doc:
    *  - `cross_snapshot` duplicate — its fingerprint is already in the
    *    ledger (dup_of = the ledger keeper);
    *  - `in_batch` duplicate — new fingerprint, but an earlier batch
    *    doc (smaller id) carries it (dup_of = that doc);
    *  - `original` — first sighting ever (dup_of null).
    *
    * REPLAY STABILITY: a ledger hit whose keeper id IS the batch doc's
    * own id classifies as `original` — that row is the corpus's
    * canonical copy re-arriving (an at-least-once redelivery, or a
    * micro-batch replayed after the ledger write committed but the
    * checkpoint didn't). Without this rule a replay marked the keeper a
    * cross_snapshot duplicate OF ITSELF, and a downstream
    * drop-duplicates consumer lost the corpus's only copy. The
    * self-keeper override beats the in-batch rank too: if a replayed
    * keeper shares its fingerprint with a smaller-id batch arrival,
    * the keeper stays original (first sighting is canonical) and the
    * arrival classifies cross_snapshot against it.
    *
    * Scale shape: ONE partial-combined hash aggregate of the batch on
    * fp for the in-batch keeper (map-side combine collapses a hot
    * fingerprint to one row per mapper — the window form this replaced
    * sorted EVERY copy of the hottest fp in one task), then two fp
    * equi-joins (both AQE-skew-splittable; the ledger side arrives
    * pre-bucketed on fp when persisted bucketed — zero ledger
    * shuffle), batch-sized work per day regardless of how many
    * snapshots the ledger summarizes. [[ledgerAfter]] emits the
    * updated artifact for the next batch. */
  def exactDupsIncremental(batch: DataFrame, ledger: DataFrame,
                           idCol: String = "doc_id",
                           textCol: String = "text"): DataFrame = {
    val fpd = batch
      .withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .select(col(idCol), col("fp"))
    val batchKeepers = fpd.groupBy(col("fp"))
      .agg(min(col(idCol)).as("_batch_keeper"))
    // null-safe: a ledger miss (null keeper) is NOT a self-keeper, and
    // must not poison the is_duplicate conjunction with a null verdict
    val selfKeeper = col("_ledger_keeper") <=> col(idCol)
    fpd
      .join(batchKeepers, Seq("fp"))
      .join(ledger.select(col("fp"), col("keeper_id").as("_ledger_keeper")),
        Seq("fp"), "left")
      .select(col(idCol), col("fp"),
        (!selfKeeper && (col("_ledger_keeper").isNotNull ||
          col(idCol) =!= col("_batch_keeper"))).as("is_duplicate"),
        when(selfKeeper, "original")
          .when(col("_ledger_keeper").isNotNull, "cross_snapshot")
          .when(col(idCol) =!= col("_batch_keeper"), "in_batch")
          .otherwise("original").as("dup_class"),
        when(selfKeeper, lit(null).cast("long"))
          .when(col("_ledger_keeper").isNotNull, col("_ledger_keeper"))
          .when(col(idCol) =!= col("_batch_keeper"), col("_batch_keeper"))
          .otherwise(lit(null).cast("long")).as("dup_of"))
  }

  /** The updated ledger after a batch: prior entries win (their keeper
    * ids predate the batch); fingerprints first seen in the batch enter
    * with their in-batch keeper. One fp-keyed aggregate over
    * ledger ∪ batch-fingerprints. */
  def ledgerAfter(batch: DataFrame, ledger: DataFrame,
                  idCol: String = "doc_id",
                  textCol: String = "text"): DataFrame =
    ledger.withColumn("_prior", lit(true))
      .unionByName(fpLedger(batch, idCol, textCol).withColumn("_prior", lit(false)))
      .groupBy(col("fp"))
      // prior keeper wins regardless of id magnitude (ids are not
      // globally ordered across snapshots; the ledger's keeper is
      // canonical by FIRST SIGHTING, the dedup-tier convention)
      .agg(min_by(col("keeper_id"), struct(when(col("_prior"), 0).otherwise(1),
        col("keeper_id"))).as("keeper_id"))

  /** Distinct word n-gram shingles over a pre-materialized words array.
    * The words column must be a plain attribute (not an inline
    * expression): the `slice` runs inside a per-position lambda, and an
    * embedded split() subtree there re-tokenizes the document once PER
    * SHINGLE — O(n²) re-splits (measured ~2× query cost). */
  def shinglesFromWords(words: Column, n: Int): Column =
    // windows via the native ngram_join kernel (r22, first-occurrence
    // dedup included): the transform-HOF form re-evaluated the
    // array_join+slice subtree interpreted per window (CodegenFallback;
    // see graft.functions.NgramJoin.ngrams). The short-document fallback (one
    // whole-word shingle) stays SQL — the kernel's empty result for
    // size < n never reaches it. MatDrill interleaved min:
    // decontam_report 0.76 vs 1.03 s, minhash_pairs 0.39 vs 0.44.
    when(size(words) >= n, ngrams(words, n, distinct = true))
      .otherwise(array_distinct(array(array_join(words, " "))))

  /** Distinct word n-gram shingles of `text` (test/API convenience —
    * hot paths materialize the words array first, see callers). */
  def shingles(text: Column, n: Int): Column =
    shinglesFromWords(split(lower(trim(text)), "\\s+"), n)

  /** (id, shingle) pairs with the tokenization materialized once per row. */
  private def explodedShingles(docs: DataFrame, n: Int, idCol: String,
                               textCol: String): DataFrame =
    docs
      .withColumn("_words", split(lower(trim(col(textCol))), "\\s+"))
      .select(col(idCol).as("id"),
        explode(shinglesFromWords(col("_words"), n)).as("shingle"))

  /** N-gram Jaccard similarity for every pair of documents sharing at
    * least one shingle. Shingle-inverted-index self-join (key = shingle)
    * → intersection counts → |A∪B| = |A|+|B|−|A∩B|. The self-join key is
    * the shingle, so common shingles are the skew risk at scale: AQE skew
    * handling plus an optional frequency cap (drop shingles appearing in
    * > `maxDf` docs — standard near-dup practice) keep it bounded. */
  def ngramJaccard(docs: DataFrame, n: Int = 3, maxDf: Int = 1000,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = explodedShingles(docs, n, idCol, textCol)
    val rare = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
      .filter(col("df") <= maxDf).select("shingle")
    // shr feeds both sides of the pair join; without materialization
    // Spark re-runs the shingle explode/filter subtree for each,
    // re-reading the source twice more. localCheckpoint (not
    // persist): cache entries registered via persist() live in the
    // CacheManager until explicitly unpersisted — a leak for a library
    // function that can't know when its caller is done — while
    // checkpoint blocks are reclaimed by the ContextCleaner when the
    // DataFrame is garbage collected.
    // per-doc shingle counts ride along as a window count BEFORE the
    // checkpoint: one id-partitioned pass instead of a separate sizes
    // aggregate joined back twice after the pair join (two fewer join
    // stages; n_sh is constant per id so `first` recovers it per pair)
    val shr = Mat.point(sh.join(rare, "shingle")
      .withColumn("n_sh", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("id")))),
      "jacc.shr")
    shr.as("a").join(shr.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("inter"),
        first(col("a.n_sh")).as("n_a"), first(col("b.n_sh")).as("n_b"))
      .withColumn("jaccard",
        round(col("inter").cast("double") / (col("n_a") + col("n_b") - col("inter")), 4))
      .select(col("id_a"), col("id_b"), col("inter"), col("jaccard"))
  }

  /** A 60-bit integer hash of a string, reproducible in any engine with
    * md5: first 15 hex chars of md5, parsed base-16. (Spark's `hash()` is
    * Murmur3 with Spark-specific seeding — NOT cross-engine.) */
  def md5Hash60(s: Column): Column =
    conv(substring(md5(s), 1, 15), 16, 10).cast("long")

  val minhashPrime: Long = 1000000007L
  /** Deterministic affine hash family for MinHash: h_i(x) = (a_i·x + b_i) mod p. */
  def minhashParams(numHashes: Int): Seq[(Long, Long)] =
    (1 to numHashes).map(i => (2L * i + 1L, 7919L * i))

  /** MinHash signatures: per doc, for each of `numHashes` affine hashes,
    * the min over shingle hashes. Output: (id, sig ARRAY<LONG>). One
    * aggregation shuffle on doc id. */
  def minhashSignatures(docs: DataFrame, n: Int = 3, numHashes: Int = 8,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val sh = explodedShingles(docs, n, idCol, textCol)
      .withColumn("h", pmod(md5Hash60(col("shingle")), lit(minhashPrime)))
    val aggs = minhashParams(numHashes).zipWithIndex.map { case ((a, b), i) =>
      min(pmod(col("h") * a + b, lit(minhashPrime))).as(s"sig_$i")
    }
    sh.groupBy(col("id")).agg(aggs.head, aggs.tail: _*)
  }

  /** MinHash + LSH banding: signatures of `numHashes` hashes in bands of
    * `bandSize`; docs sharing any band bucket become candidate pairs;
    * estimated Jaccard = fraction of matching signature components.
    * The pair join is on (band index, band values) — a distributed,
    * shuffle-friendly key; no all-pairs blowup. */
  /** The banded MinHash signature table shared by the batch and
    * incremental pair operators — ONE definition of the band layout
    * (the [[banded60]] sharing rule): (id, sig ARRAY<LONG>,
    * band, bucket) where bucket is the ':'-joined band signature.
    * Signatures feed both sides of every band join — materialized
    * (localCheckpoint over persist for the ngramJaccard GC-cleanup
    * reason); one row of numHashes longs per doc, tiny vs the corpus. */
  private def bandedSigs(docs: DataFrame, n: Int, numHashes: Int, bandSize: Int,
                         idCol: String, textCol: String): DataFrame = {
    val numBands = numHashes / bandSize
    val sigs = Mat.point(minhashSignatures(docs, n, numHashes, idCol, textCol),
      "minhash.sigs")
    val sigCols = (0 until numHashes).map(i => col(s"sig_$i"))
    sigs.select(
      col("id"),
      array(sigCols: _*).as("sig"),
      posexplode(array((0 until numBands).map(b =>
        concat_ws(":", (0 until bandSize).map(j => col(s"sig_${b * bandSize + j}")): _*)): _*))
        .as(Seq("band", "bucket")))
  }

  /** Estimated Jaccard from two equal-length signature arrays: the
    * fraction of matching components, rounded to 4. */
  private def estJaccard(a: Column, b: Column, numHashes: Int): Column =
    round(size(filter(zip_with(a, b, (x, y) => x === y), x => x))
      .cast("double") / numHashes, 4)

  def minhashCandidates(docs: DataFrame, n: Int = 3, numHashes: Int = 8,
                        bandSize: Int = 2, idCol: String = "doc_id",
                        textCol: String = "text"): DataFrame = {
    val banded = bandedSigs(docs, n, numHashes, bandSize, idCol, textCol)
    val pairs = banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
    pairs.withColumn("est_jaccard", estJaccard(col("sig_a"), col("sig_b"), numHashes))
      .select(col("id_a"), col("id_b"), col("est_jaccard"))
  }

  /** The banded-MinHash KEEPER ledger — [[simhashLedger]]'s MinHash
    * sibling, the artifact an incremental near-dup pipeline persists
    * between snapshots: per (band, bucket) only the `cap` smallest ids
    * with their full signatures (the signature rides along because the
    * pair stage needs it for the Jaccard estimate). O(buckets · cap)
    * regardless of how many snapshots it summarizes. */
  def minhashLedger(docs: DataFrame, n: Int = 3, numHashes: Int = 8,
                    bandSize: Int = 2, cap: Int = 64,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(cap >= 1, s"need cap >= 1, got $cap")
    val w = Window.partitionBy(col("band"), col("bucket")).orderBy(col("id"))
    bandedSigs(docs, n, numHashes, bandSize, idCol, textCol)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap).drop("_rk")
  }

  /** Incremental MinHash near-dup: today's batch against the prior
    * snapshots' [[minhashLedger]], plus capped in-batch pairs — the
    * [[simhashPairsIncremental]] shape on the MinHash tier. `source`
    * is `ledger` (prior keeper × new doc; ids are NOT ordered across
    * snapshots so no `<` — but a replayed doc meeting ITSELF in the
    * ledger is excluded, the self-keeper replay rule) or `batch`
    * (capped in-batch pairs). Batch-sized banding, two (band, bucket)
    * equi-joins, batch work per day however deep the history. */
  def minhashPairsIncremental(batch: DataFrame, ledger: DataFrame,
                              n: Int = 3, numHashes: Int = 8, bandSize: Int = 2,
                              cap: Int = 64, idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    require(cap >= 1, s"need cap >= 1, got $cap")
    val bandedNew = bandedSigs(batch, n, numHashes, bandSize, idCol, textCol)
    val w = Window.partitionBy(col("band"), col("bucket")).orderBy(col("id"))
    val keepersNew = bandedNew
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap).drop("_rk")
    val cross = ledger.as("a").join(bandedNew.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .select(lit("ledger").as("source"), col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
    val inBatch = keepersNew.as("a").join(bandedNew.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .distinct()
      .select(lit("batch").as("source"), col("id_a"), col("id_b"),
        estJaccard(col("sig_a"), col("sig_b"), numHashes).as("est_jaccard"))
    cross.unionByName(inBatch)
  }

  /** The shared SimHash vote pipeline: per token, md5-derived bits vote
    * ±1 per position; fingerprint bit b = 1 iff the vote sum is
    * positive. ONE hash-aggregate with `bits` sum columns instead of
    * exploding `bits` vote rows per token: the shuffle moves |docs| rows
    * of `bits` longs, not |docs|·|tokens|·`bits` rows — the map-side
    * partial aggregation does the per-token vote folding in place.
    * Cross-engine reproducible (md5-based, integer arithmetic only).
    * One body for both widths so a fix to the vote expression cannot
    * silently drift between them (the sq8Codes sharing rule). */
  private def simhashN(docs: DataFrame, bits: Int, idCol: String,
                       textCol: String): DataFrame = {
    val toks = docs.select(col(idCol).as("id"),
        explode(split(lower(trim(col(textCol))), "\\s+")).as("tok"))
      .withColumn("h", md5Hash60(col("tok")))
    val votes = (0 until bits).map(b =>
      sum(expr(s"IF(shiftright(h, $b) % 2 = 1, 1, -1)")).as(s"v_$b"))
    val bitSum = (0 until bits).map(b =>
      expr(s"IF(v_$b > 0, shiftleft(CAST(1 AS BIGINT), $b), CAST(0 AS BIGINT))"))
      .reduce(_ + _)
    toks.groupBy(col("id"))
      .agg(votes.head, votes.tail: _*)
      .select(col("id"), bitSum.as("simhash"))
  }

  /** SimHash 32-bit fingerprint — see [[simhashN]]. */
  def simhash32(docs: DataFrame, idCol: String = "doc_id",
                textCol: String = "text"): DataFrame =
    simhashN(docs, 32, idCol, textCol)

  /** Per-ROW 60-bit SimHash — bit-identical to [[simhash60]] (a spec
    * asserts equality over the corpus) but computed as one codegen'd
    * fold over the row's own tokens instead of an explode + groupBy.
    * This is the STREAMING form: stateful operators need the
    * fingerprint before any aggregation (an upstream agg would change
    * the query's output-mode contract), and at batch scale it trades
    * the vote shuffle for per-row work — the right shape whenever the
    * fingerprint is consumed row-wise rather than re-keyed. */
  def simhash60Col(text: Column): Column =
    // the NATIVE codegen'd kernel, not the composed HOF fold: the
    // aggregate/zip_with/transform form is CodegenFallback — ~120
    // interpreted expression nodes per token plus two transient
    // 60-element arrays (see [[graft.functions.SimHash60]]'s scaladoc
    // for the bit-identical tokenize/vote contract; the parity specs
    // pin it against [[simhash60]]'s explode+aggregate form)
    Kernel.call(SimHash60, "fp60", LongType, text)

  /** 60-bit SimHash — the wide twin of [[simhash32]] (same vote math
    * over all 60 bits of [[md5Hash60]]) used for Hamming-bucket pairing,
    * where bucket count is what bounds the candidate join: 15-bit bands
    * give 32768 buckets per band where an 8-bit band of the 32-bit
    * fingerprint would give 256 — a ~128× denser candidate set.
    *
    * Cost probe (r7, sf0.1 local[32], warm): a bit-packed variant
    * (ones-counts packed 4-per-long into 15 unconditional integer sums,
    * bit-identical output) measured 1.16–1.23× on the fingerprint query
    * — under the 20% bar that would justify its extra capacity contract
    * (16-bit fields cap per-doc tokens at 65535; silent wrap beyond).
    * The wide form has no such cap, so it stays. */
  private[graft] def simhash60(docs: DataFrame, idCol: String = "doc_id",
                               textCol: String = "text"): DataFrame =
    simhashN(docs, 60, idCol, textCol)

  /** SimHash near-dup candidate pairs by Hamming-bucket banding: the
    * 60-bit [[simhash60]] fingerprint splits into 4 bands of 15 bits,
    * documents sharing any band's value become candidates (equi-join on
    * (band, bucket) — distributable), and candidates within `maxHamming`
    * XOR-popcount bits survive. By pigeonhole, a pair within Hamming
    * distance 3 differs in at most 3 of the 4 bands, so one band is
    * intact — recall is EXACT for `maxHamming` ≤ 3; larger thresholds
    * keep the same plan with the standard banding recall tradeoff.
    * Candidate volume scales with corpus²/buckets per band (32768 here —
    * the reason for the 60-bit fingerprint; production simhash systems
    * use exactly this shape at 64 bits). The fingerprint table (one row
    * of two longs per document) is the only thing checkpointed — the
    * corpus is never rescanned for the pairing. */
  /** The 4×15-bit band explode shared by the exact and capped pair
    * operators — ONE definition of the band layout, so a mask/width
    * change cannot desynchronize them. Fingerprints come from the
    * NATIVE per-row kernel ([[simhash60Col]]) — bit-identical to
    * [[simhash60]]'s explode+aggregate form (spec-pinned) but with
    * ZERO shuffle before the checkpoint: the vote fold happens inside
    * the scan's codegen stage, so the only exchanges left in the pair
    * queries are the band-bucket join's own. */
  private def banded60(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Mat.point(docs.select(col(idCol).as("id"),
        simhash60Col(col(textCol)).as("simhash")), "simhash.sigs")
      .select(col("id"), col("simhash"),
        posexplode(array((0 until 4).map(b =>
          shiftright(col("simhash"), b * 15).bitwiseAND(lit(32767L))): _*))
          .as(Seq("band", "bucket")))

  /** The shared pair tail: bucket-equi-join `sources` (the pair-source
    * side) against the full banding, dedup across bands, score and
    * threshold the Hamming distance. */
  private def pairTail(sources: DataFrame, banded: DataFrame,
                       maxHamming: Int): DataFrame =
    sources.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("fp_a"), col("b.simhash").as("fp_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(col("id_a"), col("id_b"), col("hamming"))

  def simhashPairs(docs: DataFrame, maxHamming: Int = 3,
                   idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val banded = banded60(docs, idCol, textCol)
    pairTail(banded, banded, maxHamming)
  }

  /** [[simhashPairs]] with a per-bucket KEEPER cap, for the
    * pathological corpus the ×1000 scale rehearsal demonstrated
    * (SCALING.md): when a band bucket holds n
    * near-identical documents the exact pair space is O(n²), but a
    * dedup pipeline only needs each document matched to SOME earlier
    * keeper. Here only the `cap` smallest ids per (band, bucket) act as
    * pair SOURCES — every later document still compares against all of
    * them — so the bucket's work drops to O(n · cap) plus an O(n log n)
    * in-bucket rank, while any bucket within the cap produces EXACTLY
    * [[simhashPairs]]' output (spec-pinned). Recall loss past the cap
    * is stated, not silent: hits against rank > cap fingerprints are
    * the ones forgone. Deterministic — keepers are an id-ordered rank. */
  def simhashPairsCapped(docs: DataFrame, maxHamming: Int = 3, cap: Int = 64,
                         idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(cap >= 1, s"need cap >= 1, got $cap")
    val banded = banded60(docs, idCol, textCol)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket")).orderBy(col("id"))
    val keepers = banded
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap).drop("_rk")
    pairTail(keepers, banded, maxHamming)
  }

  /** The banded-SimHash KEEPER ledger — [[fpLedger]]'s NEAR-dup
    * analogue, the artifact an incremental pipeline persists between
    * snapshots: per (band, bucket) only the `cap` smallest ids with
    * their fingerprints. The cap bounds the artifact at
    * O(buckets · cap) REGARDLESS of how many snapshots it summarizes —
    * the property that lets a daily batch near-dup against years of
    * history without rescanning a byte of it. Columns mirror the
    * in-batch banding: (id, simhash, band, bucket). */
  def simhashLedger(docs: DataFrame, cap: Int = 64,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(cap >= 1, s"need cap >= 1, got $cap")
    val w = Window.partitionBy(col("band"), col("bucket")).orderBy(col("id"))
    banded60(docs, idCol, textCol)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap).drop("_rk")
  }

  /** Incremental NEAR-dup: today's batch against the prior snapshots'
    * [[simhashLedger]], plus capped in-batch pairs — the
    * [[exactDupsIncremental]] shape lifted to the banded tier. Output
    * rows carry `source`:
    *  - `ledger` — (ledger keeper, new doc) within `maxHamming` on
    *    some shared band bucket (ids are NOT ordered across snapshots,
    *    so no `<` condition: every ledger keeper is a legitimate
    *    canonical for a new arrival);
    *  - `batch` — the [[simhashPairsCapped]] pairs within the batch.
    *
    * Scale shape: batch-sized banding, two (band, bucket) equi-joins
    * (ledger side O(buckets·cap)), the keeper rank — batch work per
    * day, history-sized never. [[simhashLedgerAfter]] emits the next
    * ledger: union + re-rank, capped by construction. */
  def simhashPairsIncremental(batch: DataFrame, ledger: DataFrame,
                              maxHamming: Int = 3, cap: Int = 64,
                              idCol: String = "doc_id",
                              textCol: String = "text"): DataFrame = {
    require(cap >= 1, s"need cap >= 1, got $cap")
    val bandedNew = banded60(batch, idCol, textCol)
    val w = Window.partitionBy(col("band"), col("bucket")).orderBy(col("id"))
    val keepersNew = bandedNew
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap).drop("_rk")
    // a.id =!= b.id: a REPLAYED doc meets itself in the ledger at
    // hamming 0 — without the exclusion every at-least-once redelivery
    // reports the corpus's canonical copy as a near-dup of itself
    // (the exact-dedup self-keeper rule, on the banded tier)
    val cross = ledger.as("a").join(bandedNew.as("b"),
        col("a.band") === col("b.band") && col("a.bucket") === col("b.bucket") &&
          col("a.id") =!= col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.simhash").as("fp_a"), col("b.simhash").as("fp_b"))
      .distinct()
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select(lit("ledger").as("source"), col("id_a"), col("id_b"), col("hamming"))
    val inBatch = pairTail(keepersNew, bandedNew, maxHamming)
      .select(lit("batch").as("source"), col("id_a"), col("id_b"), col("hamming"))
    cross.unionByName(inBatch)
  }

  /** The updated near-dup ledger after a batch: union the prior
    * entries with the batch's banding and re-rank to the cap. PRIOR
    * ledger entries win their slots before batch entries fill the
    * remainder — the [[ledgerAfter]] first-sighting convention: ids
    * are explicitly NOT ordered across snapshots, so ranking the union
    * by bare id would let a batch doc with a smaller id EVICT a prior
    * keeper, and near-dups against that evicted history would be
    * silently missed even in buckets that never exceeded the cap.
    * (Within each class the tiebreak stays smallest-id — the batch
    * tier's own keeper rule.) A replayed batch re-unions rows the
    * ledger already holds; the pre-rank (band, bucket, id) collapse
    * makes that a no-op instead of a double-counted slot. The artifact
    * stays O(buckets · cap) forever. */
  def simhashLedgerAfter(batch: DataFrame, ledger: DataFrame, cap: Int = 64,
                         idCol: String = "doc_id",
                         textCol: String = "text"): DataFrame = {
    require(cap >= 1, s"need cap >= 1, got $cap")
    val w = Window.partitionBy(col("band"), col("bucket"))
      .orderBy(col("_ord"), col("id"))
    ledger.withColumn("_ord", lit(0))
      .unionByName(banded60(batch, idCol, textCol).withColumn("_ord", lit(1)))
      .groupBy(col("band"), col("bucket"), col("id"), col("simhash"))
      .agg(min(col("_ord")).as("_ord"))
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap)
      .select(col("id"), col("simhash"), col("band"), col("bucket"))
  }

  /** Distinct (id_a < id_b) candidate pairs → symmetric directed edge
    * list — THE edge contract every graph consumer of the dedup family
    * shares ([[dupClusters]], [[connectedComponents]],
    * [[graft.operators.Graph.pageRank]]): one definition, so a change to
    * the pair contract propagates everywhere. */
  def symmetricEdges(pairs: DataFrame, srcName: String = "id",
                     dstName: String = "nbr"): DataFrame =
    pairs.select(col("id_a").as(srcName), col("id_b").as(dstName))
      .unionByName(pairs.select(col("id_b").as(srcName), col("id_a").as(dstName)))

  /** Canonical-keeper assignment from near-dup candidate pairs (the step
    * after [[minhashCandidates]] in a training-data dedup pipeline): each
    * document's cluster id is the minimum doc id among itself and its
    * direct pair neighbors — one round of min-label propagation. For full
    * transitive connected components this iterates to a fixed point
    * (alternating large-star/small-star at scale); near-dup clusters are
    * overwhelmingly tiny cliques, where one round already yields the
    * canonical keeper. Shape: pairs doubled into (id, nbr) edges, one
    * hash aggregate on id — no iteration in this single-round form. */
  def dupClusters(docs: DataFrame, pairs: DataFrame,
                  idCol: String = "doc_id"): DataFrame = {
    val edges = symmetricEdges(pairs)
    docs.select(col(idCol).as("id"))
      .join(edges, Seq("id"), "left")
      .groupBy(col("id"))
      .agg(least(col("id"), min(col("nbr"))).as("cluster"))
      .withColumn("cluster", coalesce(col("cluster"), col("id")))
      .withColumn("is_canonical", col("cluster") === col("id"))
      .select(col("id").as(idCol), col("cluster"), col("is_canonical"))
  }

  /** TRUE connected components over the candidate-pair graph — iterated
    * min-label propagation to a fixed point (the transitive closure
    * [[dupClusters]]'s single round approximates). Per iteration: each
    * node takes the minimum label among itself and its neighbors — one
    * equi-join + one hash aggregate, both distributable; the driver loop
    * checks a convergence COUNT and stops when no label changed.
    * Iterations needed = graph diameter (near-dup clusters: a handful);
    * `localCheckpoint` truncates the growing lineage each round so plan
    * size stays constant. This is the standard large-scale CC shape
    * (label propagation; alternating large/small-star is the same idea
    * with better skew behavior on giant components). */
  def connectedComponents(docs: DataFrame, pairs: DataFrame,
                          idCol: String = "doc_id", maxIter: Int = 20): DataFrame = {
    val edges = symmetricEdges(pairs).localCheckpoint()
    var labels = dupClusters(docs, pairs, idCol)
      .select(col(idCol).as("id"), col("cluster")).localCheckpoint()
    var iter = 0
    var converged = false
    while (iter < maxIter && !converged) {
      // candidate label from each neighbor's current label
      val viaNbr = edges.join(labels.withColumnRenamed("id", "nbr"), "nbr")
        .groupBy(col("id")).agg(min(col("cluster")).as("nbr_cluster"))
      val next = labels.join(viaNbr, Seq("id"), "left")
        .select(col("id"),
          least(col("cluster"), col("nbr_cluster")).as("cluster"),
          (col("nbr_cluster") < col("cluster")).as("_changed"))
      val materialized = next.localCheckpoint()
      converged = materialized.filter(col("_changed")).isEmpty
      labels = materialized.drop("_changed")
      iter += 1
    }
    // no silent caps: returning the last iterate would hand out WRONG
    // cluster ids for any component whose diameter exceeds the budget
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter iterations — " +
        "a component's diameter exceeds the budget; raise maxIter")
    labels.select(col("id").as(idCol), col("cluster"),
      (col("cluster") === col("id")).as("is_canonical"))
  }

  /** Train/test split that CANNOT leak near-duplicates across splits:
    * the split key is the connected-component label of the near-dup
    * graph, so every member of a duplicate cluster lands on the same
    * side — the guarantee a plain per-document hash split silently
    * lacks (a near-copy of a test document in train is memorized
    * evaluation data). Cost = the component labeling itself plus a
    * scan-only hash threshold on the label; at 100 TB the labeling is
    * the one iterated phase and the split adds nothing. */
  def leakageSafeSplit(docs: DataFrame, pairs: DataFrame, testFrac: Double = 0.2,
                       idCol: String = "doc_id"): DataFrame =
    Sampling.trainTestSplit(connectedComponents(docs, pairs, idCol), "cluster", testFrac)
      .select(col(idCol), col("cluster"), col("split"))

  /** Embedding-cosine near-dup: pairs with cosine ≥ `threshold` among
    * vectors sharing a sign-LSH bucket (see [[Similarity.signBuckets]]) —
    * the scale path; brute-force variant available for small inputs.
    *
    * SCALE WARNING (the r20 weak): with `signDims = 4` there are only
    * 16 buckets corpus-wide and the bucket self-join has no per-bucket
    * source cap — O(n²/16) pairs on any corpus, fully quadratic inside
    * a bucket of near-identical vectors (exactly the population a
    * dedup pass exists to find). Production near-dup passes use
    * [[embeddingNearDupsCapped]]; this uncapped form is the exact
    * all-pairs reference (and the oracle-replayed demo query). */
  def embeddingNearDups(vecs: DataFrame, threshold: Double, signDims: Int = 4,
                        idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val bucketed = vecs.withColumn("bucket", Similarity.signBucket(col(vecCol), signDims))
    pairScoreTail(bucketed, bucketed, threshold, idCol, vecCol)
  }

  /** [[embeddingNearDups]] with the [[simhashPairsCapped]] per-bucket
    * KEEPER cap — the r20 verdict's prescription, closing the last
    * uncapped near-dup pair generator: only the `cap` smallest ids per
    * sign bucket act as pair SOURCES; every later vector still compares
    * against all of them, so each vector is still matched to SOME
    * earlier keeper while the bucket's pair space drops from O(n²) to
    * O(n · cap). Any bucket within the cap produces EXACTLY
    * [[embeddingNearDups]]' output (spec-pinned,
    * [[graft.EmbedNearDupCapSpec]]); past the cap the forgone pairs are
    * hits against rank > cap sources — the same stated-contract recall
    * loss as the simhash/media/minhash/semantic caps. Deterministic:
    * keepers are an id-ordered rank. */
  def embeddingNearDupsCapped(vecs: DataFrame, threshold: Double,
                              signDims: Int = 4, cap: Int = 64,
                              idCol: String = "vec_id",
                              vecCol: String = "embedding"): DataFrame = {
    require(cap >= 1, s"need cap >= 1, got $cap")
    // the bucketed table feeds both the source rank and the probe side —
    // materialized once (the banded60 discipline)
    val bucketed = Mat.point(
      vecs.withColumn("bucket", Similarity.signBucket(col(vecCol), signDims)),
      "embcap.bucketed")
    val w = Window.partitionBy(col("bucket")).orderBy(col(idCol))
    val keepers = bucketed
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= cap).drop("_rk")
    pairScoreTail(keepers, bucketed, threshold, idCol, vecCol)
  }

  /** The shared cosine pair tail of the embedding near-dup pair: bucket
    * equi-join `sources` against the full bucketing, score once, apply
    * the threshold (one definition so the capped and exact forms cannot
    * drift — the [[pairTail]] rule on the embedding tier). */
  private def pairScoreTail(sources: DataFrame, bucketed: DataFrame,
                            threshold: Double, idCol: String,
                            vecCol: String): DataFrame =
    sources.as("a").join(bucketed.as("b"),
        col("a.bucket") === col("b.bucket") && col(s"a.$idCol") < col(s"b.$idCol"))
      // ComputeOnce: without the barrier the threshold filter is pushed
      // below this projection and the cosine kernel runs TWICE per pair
      // (once in the Filter, once in the Project)
      .withColumn("score", graft.functions.ComputeOnce.once(
        round(graft.functions.VectorOps.cosineNative(col(s"a.$vecCol"), col(s"b.$vecCol")), 4)))
      .filter(col("score") >= threshold)
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"), col("score"))

  /** The capped within-cell candidate stage of [[semanticDedup]]: each
    * member is paired against the cell's `maxCellReps` LOWEST-ID members
    * (its representatives) with `rep_id < id` — so pairs per cell are
    * bounded by `min(maxCellReps, |cell|) · |cell|`, LINEAR in cell
    * population instead of the quadratic all-pairs self-join. Exposed at
    * package level so the generative spec can bound the emitted pair set
    * directly. */
  private[graft] def semanticCandidatePairs(assigned: DataFrame, maxCellReps: Int,
                                            idCol: String, vecCol: String): DataFrame = {
    val w = Window.partitionBy(col("cell")).orderBy(col(idCol))
    val reps = assigned
      .withColumn("_rep_rank", row_number().over(w))
      .filter(col("_rep_rank") <= maxCellReps)
      .select(col("cell"), col(idCol).as("_rep_id"), col(vecCol).as("_rep_vec"))
    reps.join(assigned, Seq("cell"))
      .filter(col("_rep_id") < col(idCol))
      .select(col("cell"), col("_rep_id").as("id_a"), col(idCol).as("id_b"),
        round(graft.functions.VectorOps.cosineNative(
          col("_rep_vec"), col(vecCol)), 6).as("score"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): cluster the embedding table with the engine's
    * deterministic coarse quantizer, then WITHIN each cluster flag every
    * vector that has a smaller-id representative above the cosine
    * threshold — the keep-one-representative rule, hash-stable across
    * engines. The paper's two-stage shape is exactly why it scales: the
    * O(n²) cosine never happens globally, only inside cells — and the two
    * knobs here keep the inside-cell half bounded at any corpus size:
    *
    *  - '''k ∝ N''' (the SemDeDup regime): pass `nClusters = 0` (the
    *    default) and the cluster count is derived as
    *    `k = ceil(N / targetCellSize)`, so expected cell population stays
    *    at `targetCellSize` and within-cell work per cell is constant as
    *    the corpus grows (one exact `count()` job at plan time —
    *    index-build cost, same class as the centroid sample). An explicit
    *    `nClusters > 0` pins k (the oracle-replayed demo query does).
    *  - '''per-cell pair cap''' (the skew guard, mirroring
    *    [[ngramJaccard]]'s `maxDf`): members are compared only against
    *    the cell's `maxCellReps` lowest-id members, so a runaway hot cell
    *    costs `maxCellReps · |cell|` comparisons, not `|cell|²`. Members
    *    beyond the cap are still FLAGGABLE (every comparison's b-side is
    *    unrestricted) but no longer serve as anyone's keeper — the recall
    *    loss is only a dup pair whose BOTH ends rank past the cap inside
    *    one cell, and the cap binding at all means the cell outgrew
    *    `targetCellSize` by that factor. Sizing rules: README
    *    "Scale design".
    *
    * Assignment is the [[Similarity.ivfTopK]] argmax-cosine against ONE
    * k×dim centroid-matrix literal ([[graft.functions.MatrixArg]] —
    * codegen O(1) in k) — metadata-sized driver state, map-side, zero
    * shuffle; the only shuffles are the cell-keyed rep window and the
    * cell-keyed candidate equi-join (AQE skew-join handles a hot cell).
    *
    * Output: one row per input vector — (id, cell, is_semantic_dup). */
  def semanticDedup(vecs: DataFrame, nClusters: Int = 0, threshold: Double = 0.85,
                    targetCellSize: Int = 1024, maxCellReps: Int = 4096,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(maxCellReps >= 1, s"maxCellReps must be >= 1, got $maxCellReps")
    require(nClusters > 0 || targetCellSize >= 1,
      s"targetCellSize must be >= 1 to derive nClusters, got $targetCellSize")
    val k = if (nClusters > 0) nClusters
      else math.max(1L, (vecs.count() + targetCellSize - 1L) / targetCellSize)
        .min(Int.MaxValue).toInt
    val cents = Similarity.coarseCentroids(vecs, k, idCol, vecCol)
    val assigned = Similarity.assignCells(
      vecs.select(col(idCol), col(vecCol)), cents, vecCol)
    val dupIds = semanticCandidatePairs(assigned, maxCellReps, idCol, vecCol)
      .filter(col("score") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
    assigned.select(col(idCol), col("cell"))
      .join(dupIds.withColumn("is_semantic_dup", lit(true)), Seq(idCol), "left")
      .withColumn("is_semantic_dup", coalesce(col("is_semantic_dup"), lit(false)))
  }

  /** The per-cell REPRESENTATIVE ledger — [[semanticDedup]]'s
    * incremental artifact (the [[fpLedger]]/[[simhashLedger]] pattern
    * on the embedding tier): per quantizer cell, the `maxCellReps`
    * smallest-id members with their vectors. Persisted NEXT TO the
    * frozen centroid sample (`cents` — the bounded model artifact that
    * makes cell ids stable across snapshots): together they let a
    * daily batch semantic-dedup against years of history with
    * O(cells · cap) state and zero history rescans. */
  def semanticLedger(vecs: DataFrame, cents: Seq[(Int, Seq[Float])],
                     maxCellReps: Int = 4096,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(maxCellReps >= 1, s"need maxCellReps >= 1, got $maxCellReps")
    val w = Window.partitionBy(col("cell")).orderBy(col(idCol))
    Similarity.assignCells(vecs.select(col(idCol), col(vecCol)), cents, vecCol)
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= maxCellReps).drop("_rk")
      .select(col("cell"), col(idCol), col(vecCol))
  }

  /** Incremental SemDeDup: today's batch against the prior snapshots'
    * [[semanticLedger]], under the SAME frozen centroids. Per batch
    * vector: `ledger` dup — a prior-snapshot representative in its
    * cell scores ≥ `threshold` (a replayed vector meeting ITSELF is
    * excluded — the self-keeper replay rule; without it every
    * at-least-once redelivery flags the corpus's canonical copy);
    * `batch` dup — the capped in-batch [[semanticCandidatePairs]]
    * rule; else original. Assignment is map-side against the frozen
    * matrix literal; the only shuffles are the two cell-keyed joins —
    * batch-sized work per day. */
  def semanticDedupIncremental(batch: DataFrame, ledger: DataFrame,
                               cents: Seq[(Int, Seq[Float])],
                               threshold: Double = 0.85, maxCellReps: Int = 4096,
                               idCol: String = "vec_id",
                               vecCol: String = "embedding"): DataFrame = {
    require(maxCellReps >= 1, s"need maxCellReps >= 1, got $maxCellReps")
    val assigned = Similarity.assignCells(
      batch.select(col(idCol), col(vecCol)), cents, vecCol)
    val ledgerDups = ledger.as("a").join(assigned.as("b"),
        col("a.cell") === col("b.cell") && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .withColumn("score", graft.functions.ComputeOnce.once(
        round(graft.functions.VectorOps.cosineNative(
          col(s"a.$vecCol"), col(s"b.$vecCol")), 6)))
      .filter(col("score") >= threshold)
      .select(col(s"b.$idCol").as(idCol)).distinct()
      .withColumn("_led", lit(true))
    val batchDups = semanticCandidatePairs(assigned, maxCellReps, idCol, vecCol)
      .filter(col("score") >= threshold)
      .select(col("id_b").as(idCol)).distinct()
      .withColumn("_bat", lit(true))
    assigned.select(col(idCol), col("cell"))
      .join(ledgerDups, Seq(idCol), "left")
      .join(batchDups, Seq(idCol), "left")
      .select(col(idCol), col("cell"),
        (coalesce(col("_led"), lit(false)) || coalesce(col("_bat"), lit(false)))
          .as("is_semantic_dup"),
        when(col("_led"), "ledger").when(col("_bat"), "batch")
          .otherwise(lit(null).cast("string")).as("dup_source"))
  }

  /** Duplicated-PASSAGE extraction — exact substring dedup at span
    * rather than document granularity (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" regime:
    * most web duplication is repeated boilerplate/quotes INSIDE
    * otherwise-distinct documents, which whole-document [[dedupExact]] /
    * [[minhashCandidates]] never see). A word position's n-gram is
    * duplicated when the same n words occur in ≥ `minDocs` DISTINCT
    * documents; runs of duplicated positions closer than n words merge
    * into maximal spans (adjacent-or-overlapping gram windows), and
    * spans shorter than `minSpanWords` are dropped. Output per span:
    * (id, span_start, span_end — word offsets, inclusive —
    * n_dup_grams, span_words); a curator clips `[span_start, span_end]`
    * from the training copy.
    *
    * Scale shape: positional grams are a per-row generator (one
    * tokenize, no re-split per gram — the [[shinglesFromWords]]
    * attribute discipline); the dup test is ONE count-distinct
    * aggregate keyed by gram fingerprint, and the flag-back is an
    * equi-join on the same key whose output is bounded by the input
    * positions (a hot boilerplate gram widens its group, it cannot blow
    * up the join — each position emits once). The span merge is a
    * per-document window (gaps-and-islands by running new-segment sum).
    * Grams ride as [[md5Hash60]] fingerprints — 32-hex-char strings
    * would shuffle 4× the bytes at 100 TB for the same key equality. */
  def duplicatedSpans(docs: DataFrame, n: Int = 4, minDocs: Int = 2,
                      minSpanWords: Int = 8,
                      idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // pos feeds BOTH the dup aggregate and the flag-back join; without
    // materialization the gram explode + per-position md5 (the dominant
    // cost) runs twice. Mat.point (localCheckpoint) over persist for
    // the ngramJaccard GC-cleanup reason; at cluster scale the
    // `reliable:` mode lands this positions table on shared storage.
    val pos = Mat.point(positionalGrams(docs, n, idCol, textCol), "spans.pos")
    val dup = pos.groupBy("fp")
      .agg(countDistinct(col("id")).as("ndocs"))
      .filter(col("ndocs") >= minDocs)
      .select("fp")
    spanMerge(pos.join(dup, "fp"), n, minSpanWords, idCol)
  }

  /** The gaps-and-islands span merge shared by the batch and
    * incremental span operators: duplicated positions per doc →
    * maximal spans ≥ `minSpanWords`. Input: (id, pos) rows (extra
    * columns ignored). */
  private def spanMerge(dupPos: DataFrame, n: Int, minSpanWords: Int,
                        idCol: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    dupPos
      // windows [pos, pos+n-1] within n of each other touch or overlap
      .withColumn("_new_seg",
        when(col("pos") - lag(col("pos"), 1).over(w) <= n, lit(0)).otherwise(lit(1)))
      .withColumn("_seg", sum(col("_new_seg")).over(w))
      .groupBy(col("id"), col("_seg"))
      .agg(min(col("pos")).as("span_start"),
        (max(col("pos")) + n - 1).as("span_end"),
        count(lit(1)).as("n_dup_grams"))
      .withColumn("span_words", col("span_end") - col("span_start") + 1)
      .filter(col("span_words") >= minSpanWords)
      .select(col("id").as(idCol), col("span_start"), col("span_end"),
        col("n_dup_grams"), col("span_words"))
  }

  /** Positional n-gram fingerprints: (id, pos, fp) — the shared front
    * of [[duplicatedSpans]] and the incremental span tier. Narrow rows
    * (no gram strings survive the projection). */
  private def positionalGrams(docs: DataFrame, n: Int, idCol: String,
                              textCol: String): DataFrame =
    docs
      .withColumn("_words", split(lower(trim(col(textCol))), "\\s+"))
      .filter(size(col("_words")) >= n)
      .select(col(idCol).as("id"),
        posexplode(ngrams(col("_words"), n)).as(Seq("pos", "gram")))
      .select(col("id"), col("pos"), md5Hash60(col("gram")).as("fp"))

  /** Every length-`n` window of `ws` joined by one space, first
    * occurrences only when `distinct`, via the native ngram_join kernel
    * ([[graft.functions.NgramJoin.ngrams]], r22). posexplode over the
    * ordered form yields the same (pos, gram) rows as the old
    * transform(sequence, array_join(slice)) HOF, without the per-window
    * interpreted join (MatDrill interleaved min, HOF listed first:
    * dup_spans 1.08 vs 1.86, decontam_spans 0.71 vs 0.95, lm_bigram
    * 0.98 vs 1.14, lm_bigram_artifact 1.02 vs 1.41 s). */
  private[operators] def ngrams(ws: Column, n: Int, distinct: Boolean = false): Column = {
    require(n >= 1, s"ngram_join needs n >= 1, got $n")
    Kernel.call(NgramJoin, "ngrams", ArrayType(StringType, containsNull = false),
      ws, n, distinct)
  }

  /** Per-gram smallest distinct doc ids, capped at `minDocs` — the
    * bounded exact state the gram LEDGER stores per fingerprint. The
    * cap is a WindowGroupLimit rank (map-side partial top-k), never an
    * unbounded collect: a corpus-wide boilerplate gram contributes
    * `minDocs` rows to the aggregate, not one per document. */
  private def topDocsPerGram(pos: DataFrame, minDocs: Int): DataFrame = {
    val w = Window.partitionBy(col("fp")).orderBy(col("id"))
    pos.select(col("fp"), col("id")).distinct()
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= minDocs)
      .groupBy(col("fp"))
      .agg(sort_array(collect_list(col("id"))).as("docs"))
  }

  /** The cross-snapshot GRAM ledger — [[fpLedger]]'s span-granularity
    * sibling, the state an incremental [[duplicatedSpans]] keeps
    * between batches: per positional-n-gram fingerprint, the `minDocs`
    * SMALLEST distinct doc ids ever seen (fewer if the gram hasn't
    * reached `minDocs` documents yet). `size(docs) == minDocs` IS the
    * saturation flag — the gram is known-duplicated forever after.
    * EXACT for the ≥ `minDocs` predicate at O(minDocs) state per
    * fingerprint: an unsaturated entry holds ALL its historical doc
    * ids, so unioning it with a batch's capped set can never
    * under-count, and the smallest-k-of-smallest-k merge property
    * keeps the stored ids the true global minima. */
  def gramLedger(docs: DataFrame, n: Int = 4, minDocs: Int = 2,
                 idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    require(minDocs >= 1, s"need minDocs >= 1, got $minDocs")
    topDocsPerGram(positionalGrams(docs, n, idCol, textCol), minDocs)
  }

  /** Incremental duplicated-passage extraction: TODAY'S batch against
    * the prior snapshots' [[gramLedger]] — a batch position is
    * duplicated when the gram's distinct documents across
    * (ledger ∪ batch) reach `minDocs`, so cross-snapshot boilerplate
    * (the gram seen once last month and once today) is caught — the
    * case a batch-only [[duplicatedSpans]] run is blind to. Output =
    * the batch's maximal spans, same columns as [[duplicatedSpans]].
    *
    * Scale shape: batch positional grams (narrow, checkpointed once
    * for the two consumers), the capped per-gram doc rank
    * (WindowGroupLimit), one fp equi-join against the ledger, the
    * doc-scoped span merge — batch-sized work per day regardless of
    * history depth. */
  def duplicatedSpansIncremental(batch: DataFrame, ledger: DataFrame,
                                 n: Int = 4, minDocs: Int = 2,
                                 minSpanWords: Int = 8,
                                 idCol: String = "doc_id",
                                 textCol: String = "text"): DataFrame = {
    require(minDocs >= 1, s"need minDocs >= 1, got $minDocs")
    val pos = Mat.point(positionalGrams(batch, n, idCol, textCol), "spans.pos")
    val dup = topDocsPerGram(pos, minDocs)
      .join(ledger.withColumnRenamed("docs", "_ldocs"), Seq("fp"), "left")
      .filter(size(array_distinct(concat(
        coalesce(col("_ldocs"), array().cast("array<long>")),
        col("docs")))) >= minDocs)
      .select("fp")
    spanMerge(pos.join(dup, "fp"), n, minSpanWords, idCol)
  }

  /** The ACTION half of [[duplicatedSpans]]: emit each document with
    * its duplicated passages clipped out — the text a curation run
    * ships to training, not just the offsets. Span DETECTION uses
    * [[duplicatedSpans]]' lowercased tokenization (duplication is
    * case-insensitive), but the kept-index filter applies to a
    * CASE-PRESERVING split of the same text: `lower` never changes
    * whitespace, so the two tokenizations are position-aligned, and the
    * shipped text keeps its original casing in every undamaged region
    * (an untouched document round-trips byte-identically up to the
    * \\s+ → single-space join). Output: (id, clean_text, n_words,
    * n_words_removed).
    *
    * Shape: [[duplicatedSpans]]' plan plus one per-doc span
    * `collect_list` (span counts per doc are tiny) equi-joined back to
    * the corpus on the doc id — NOT broadcast-hinted: only documents
    * with duplicated passages appear, but at heavy-boilerplate corpora
    * that can be most of them, so the join stays a distributable
    * id-keyed exchange (AQE demotes it to broadcast when it is small).
    * The clip itself is a per-row index-lambda filter over the words
    * array. The span test is order-independent (`exists` over the span
    * array), so the collect_list's nondeterministic order cannot change
    * the output. */
  def clipDuplicatedSpans(docs: DataFrame, n: Int = 4, minDocs: Int = 2,
                          minSpanWords: Int = 8,
                          idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    clipSpans(docs, duplicatedSpans(docs, n, minDocs, minSpanWords, idCol, textCol),
      idCol, textCol)

  /** Removes each document's word spans `[span_start, span_end]` from
    * its case-preserving `\\s+` split: the shared tail of
    * [[clipDuplicatedSpans]] and [[Decontaminate.clipContaminated]].
    * Output: (id, clean_text, n_words, n_words_removed). */
  private[operators] def clipSpans(docs: DataFrame, spans: DataFrame,
                                   idCol: String, textCol: String): DataFrame = {
    val perDoc = spans.groupBy(col(idCol))
      .agg(collect_list(struct(col("span_start").as("s"), col("span_end").as("e")))
        .as("_spans"))
    docs.join(perDoc, Seq(idCol), "left")
      .withColumn("_words", split(trim(col(textCol)), "\\s+"))
      .withColumn("_kept",
        when(col("_spans").isNull, col("_words")).otherwise(
          filter(col("_words"), (_, i) =>
            !exists(col("_spans"), s => i >= s("s") && i <= s("e")))))
      .select(col(idCol),
        array_join(col("_kept"), " ").as("clean_text"),
        size(col("_words")).as("n_words"),
        (size(col("_words")) - size(col("_kept"))).as("n_words_removed"))
  }
}
