package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.io.Tables
import graft.operators._

/** Subword tier: BPE / unigram-LM / WordPiece training, encoding, artifacts, and LM scoring lifecycles.
  * One `queries` entry per operator with its DuckDB oracle twin;
  * composed into [[SparkEntry.queries]]/[[SparkEntry.oracleSql]]. */
private[graft] trait EntrySubword extends EntryShared {

  protected def subwordQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "bpe_pairs" -> ((s, d) =>
      Bpe.pairCounts(Bpe.wordVocab(Tables.documents(s, d)))
        .orderBy(desc("freq"), asc("lhs"), asc("rhs")).limit(20)),
    "bpe_learn" -> ((s, d) =>
      Bpe.mergesDf(s, bpeMerges6(s, d)).select(col("rank").as("merge_rank"),
        col("lhs"), col("rhs"), col("merged"), col("freq"))),
    "bpe_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = Bpe.wordVocab(docs).select("word", "freq")
      Bpe.tokenCounts(docs, Bpe.applyMergeHistory(vocab, bpeMerges6(s, d)))
    }),
    // the full model-ARTIFACT lifecycle: train → persist → load in a
    // (conceptually) different job → re-derive the vocab from the raw
    // corpus → apply the LOADED merge history → count tokens. Output
    // must equal bpe_tokens exactly (same oracle), which pins that
    // nothing about the model survives only in driver memory,
    "bpe_artifact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (merges, _) = Bpe.learnMerges(docs, numMerges = 6)
      Bpe.saveModel(s, merges, bpeModelDir)
      val loaded = Bpe.loadModel(s, bpeModelDir)
      val vocab = Bpe.wordVocab(docs).select("word", "freq")
      Bpe.tokenCounts(docs, Bpe.applyMergeHistory(vocab, loaded))
    }),
    // corpus snapshot delta for incremental runs: old = docs minus the
    // %13 ids (so those read as added), new = docs minus the %17 ids
    // (removed), with the %5 ids edited (changed) — every status
    // exercised from the one deterministic table,
    "corpus_delta" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val oldSnap = docs.filter(col("doc_id") % 13 =!= 0)
      val newSnap = docs.filter(col("doc_id") % 17 =!= 0)
        .withColumn("text",
          when(col("doc_id") % 5 === 0, concat(col("text"), lit(" rev2")))
            .otherwise(col("text")))
      Snapshot.corpusDelta(oldSnap, newSnap)
    }),
    // Z-order (Morton) interleave for multi-dimensional file skipping:
    // the oracle pins the bit-interleave math; LayoutSpec pins the
    // layout effect (per-partition min/max rectangles shrink on BOTH
    // dimensions vs a single-key sort),
    "zorder_layout" -> ((s, d) => {
      val xb = expr("user_id % 256")
      val yb = expr("(ts_ns div 1000000000) % 256")
      Tables.events(s, d).select(col("event_id"), xb.as("x_bucket"),
        yb.as("y_bucket"), graft.io.Layout.zValue(xb, yb, 8).as("zval"))
    }),
    // greedy longest-match ENCODE under the trained vocab (WordPiece's
    // inference loop, distinct from bpe_tokens' merge-history lengths):
    // corpus-wide piece frequencies, segmentation vocab-compressed,
    "subword_encode" -> ((s, d) => {
      val vocab = Bpe.wordVocab(Tables.documents(s, d)).select("word", "freq")
      Bpe.greedyPieceCounts(Bpe.applyMergeHistory(vocab, bpeMerges6(s, d)))
    }),
    // the per-document face of the same encoder — greedy piece counts
    // joined back to the exploded corpus,
    "subword_doc_tokens" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val vocab = Bpe.wordVocab(docs).select("word", "freq")
      Bpe.greedyTokenCounts(docs,
        Bpe.applyMergeHistory(vocab, bpeMerges6(s, d)))
    }),
    // contiguous global training-example ids in key order, with NO
    // single-partition window (the plan shape is pinned in
    // PlanPropertiesSpec) — core's zipWithIndex re-expressed on frames,
    "global_index" -> ((s, d) =>
      graft.io.Layout.globalIndex(
        Tables.documents(s, d).select("doc_id", "n_chars"), "doc_id")
        .select("doc_id", "n_chars", "global_idx")),
    // unigram-LM (SentencePiece-family) Viterbi segmentation: substring
    // seed vocab → pruned inventory → per-word optimal DP, all under
    // the integer (min pieces, max frequency mass) objective,
    "unigram_viterbi" -> ((s, d) => {
      val vocab = Bpe.wordVocab(Tables.documents(s, d))
        .select("word", "freq").localCheckpoint()
      graft.operators.Unigram.viterbiStats(vocab, ugSeedFitted(s, d))
    }),
    // the unigram artifact lifecycle, mirroring bpe_artifact: fit the
    // seed model, persist it as parquet, LOAD it back, and re-segment
    // the corpus under the loaded model — must equal unigram_viterbi
    // exactly (same oracle, shared by reference),
    "unigram_artifact" -> ((s, d) => {
      val vocab = Bpe.wordVocab(Tables.documents(s, d))
        .select("word", "freq").localCheckpoint()
      graft.operators.Unigram.saveModel(s,
        graft.operators.Unigram.fitSeed(vocab), unigramModelDir)
      graft.operators.Unigram.viterbiStats(vocab,
        graft.operators.Unigram.loadModel(s, unigramModelDir))
    }),
    // the EM M-step over the same model: expected piece counts from the
    // canonical (longest-piece-first backtrack) optimal segmentations,
    "unigram_em" -> ((s, d) => {
      val vocab = Bpe.wordVocab(Tables.documents(s, d))
        .select("word", "freq").localCheckpoint()
      graft.operators.Unigram.expectedPieceCounts(vocab, ugSeedFitted(s, d))
    }),
    // the loop actually closes: M-step counts become the round-2 model
    // (unused pieces pruned), and the corpus re-segments under it,
    "unigram_em2" -> ((s, d) => {
      val vocab = Bpe.wordVocab(Tables.documents(s, d))
        .select("word", "freq").localCheckpoint()
      graft.operators.Unigram.viterbiStats(vocab,
        graft.operators.Unigram.emRound(vocab, ugSeedFitted(s, d)))
    }),
    // EM to CONVERGENCE: iterate M-step refits until the weighted total
    // piece count stops improving (integer rule, oracle-replayable);
    // the output trace — one row per round run, including the stopping
    // round — witnesses the convergence itself,
    "unigram_em_loop" -> ((s, d) => {
      import s.implicits._
      val vocab = Bpe.wordVocab(Tables.documents(s, d))
        .select("word", "freq").localCheckpoint()
      val (_, iters) = graft.operators.Unigram.emLoop(
        vocab, ugSeedFitted(s, d), maxIters = 4)
      iters.toDF()
    }),
    // manifest-level file skipping: cluster events on the Z curve, write
    // with a footer-derived per-file min/max manifest, then answer a
    // selective user_id range by reading ONLY the overlapping files
    // (LayoutSpec asserts genuine file skipping; values must equal the
    // oracle's plain filter — skipping is an optimization, never a
    // filter),
    "stats_prune" -> ((s, d) => {
      val ev = Tables.events(s, d).select("event_id", "user_id", "ts_ns")
      graft.io.Layout.writeWithStats(
        graft.io.Layout.zorderBy(ev, "user_id", "ts_ns", bits = 8, numFiles = 8),
        statsPruneDir, Seq("user_id", "ts_ns"))
      graft.io.Layout.readPruned(s, statsPruneDir, "user_id", 10L, 20L)
        .select("event_id", "user_id", "ts_ns")
    }),
    // the skipping manifest feeding a real CONSUMER: the tumbling-agg
    // tier answers a time-slice question from a z-ordered stats table
    // through readPruned, so the manifest drops the files whose ts_ns
    // interval misses the slice before Spark lists them (the 100 TB
    // shape: an event-log day-slice reads the day's files, not the
    // year's). The slice [min + span/4, min + span/2] derives from the
    // data so it is SF-independent; sums are fixed-point micro-units
    // (order-independent). LayoutSpec asserts genuine file skipping for
    // this exact consumer; the oracle is the plain unpruned filter —
    // skipping must be invisible in values,
    "prune_tumbling" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select("event_id", "event_type", "value", "user_id", "ts_ns")
      // one bounds pass serves both the z-order scaling and the slice
      // predicate (zorderBy would otherwise re-scan for its min/max)
      val r = ev.agg(min("user_id"), max("user_id"), min("ts_ns"), max("ts_ns")).head()
      val (mn, mx) = (r.getLong(2), r.getLong(3))
      graft.io.Layout.writeWithStats(
        graft.io.Layout.zorderBy(ev, "user_id", "ts_ns", bits = 8, numFiles = 8,
          bounds = Some((r.getLong(0), r.getLong(1), mn, mx))),
        pruneTumblingDir, Seq("user_id", "ts_ns"))
      val (lo, hi) = (mn + (mx - mn) / 4, mn + (mx - mn) / 2)
      graft.io.Layout.readPruned(s, pruneTumblingDir, "ts_ns", lo, hi)
        .groupBy(expr("ts_ns div 600000000000").as("win"), col("event_type"))
        .agg(count(lit(1)).as("n_events"),
          sum(expr("CAST(round(value * 1e6) AS BIGINT)")).as("sum_value_micro"))
        .select((col("win") * 600).as("win_start_s"), col("event_type"),
          col("n_events"), col("sum_value_micro"))
    }),
    // STRING-column skipping: cluster events by the categorical
    // event_type (range partition + in-partition sort gives each file a
    // narrow string interval), write footer-derived string min/max into
    // the manifest, and answer `event_type = 'purchase'` reading only
    // the files whose byte-interval admits it — the "read only the
    // English shards" shape for a lang/source-clustered 100 TB corpus.
    // Bounds compare as unsigned UTF-8 bytes (parquet's BINARY stats
    // order), so non-ASCII categories prune correctly too (spec-pinned),
    "prune_by_type" -> ((s, d) => {
      val ev = Tables.events(s, d)
        .select("event_id", "event_type", "user_id", "value")
      graft.io.Layout.writeWithStats(
        ev.repartitionByRange(8, col("event_type"), col("event_id"))
          .sortWithinPartitions("event_type"),
        pruneTypeDir, Seq("event_type"))
      graft.io.Layout.readPrunedEq(s, pruneTypeDir, "event_type", "purchase")
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          sum(expr("CAST(round(value * 1e6) AS BIGINT)")).as("sum_value_micro"))
    }),

    // WordPiece training — likelihood-scored merges over the ##-marked
    // alphabet (the BERT tokenizer family; BPE and unigram-LM are the
    // other two). 6 merges like bpe_learn so the two trainers' outputs
    // are directly comparable in the same CORRECTNESS run,
    "wordpiece_learn" -> ((s, d) =>
      Bpe.mergesDf(s, wpMerges6(s, d)).select(col("rank").as("merge_rank"),
        col("lhs"), col("rhs"), col("merged"), col("freq"))),
    // greedy ##-marked encode of the whole corpus under the trained
    // vocabulary — (piece, freq) with BERT's continuation convention,
    "wordpiece_tokens" -> ((s, d) => {
      val vocab = Wordpiece.wordVocab(Tables.documents(s, d)).select("word", "freq")
      Wordpiece.pieceCounts(Wordpiece.applyMergeHistory(vocab, wpMerges6(s, d)))
    }),
    // the full artifact lifecycle: train → persist → load → replay the
    // merge HISTORY over a re-derived raw vocab → encode. Must equal
    // wordpiece_tokens exactly (shared oracle) — nothing about the
    // model survives only in driver memory,
    "wordpiece_artifact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      val (merges, _) = Wordpiece.learnMerges(docs, numMerges = 6)
      Bpe.saveModel(s, merges, wordpieceModelDir)
      val loaded = Bpe.loadModel(s, wordpieceModelDir)
      val vocab = Wordpiece.wordVocab(docs).select("word", "freq")
      Wordpiece.pieceCounts(Wordpiece.applyMergeHistory(vocab, loaded))
    }),

    // merge EXHAUSTION: a 3-word degenerate corpus has only 2 learnable
    // pairs, so rounds 3..6 find nothing — the trainer must stop
    // gracefully (keep the round-2 vocab, learn no phantom merges) and
    // the oracle's empty-b_j LEFT-JOIN fallback must agree. End-to-end
    // through the encode so the final vocab is hash-pinned, not just
    // row-counted,
    "wordpiece_exhausted" -> ((s, d) => {
      import s.implicits._
      val (_, finalVocab) =
        Wordpiece.learnMerges(Seq("aa aa ab").toDF("text"), numMerges = 6)
      Wordpiece.pieceCounts(finalVocab)
    }),

    // trained NB classifier (the fastText/CCNet-style model-based
    // filter; the heuristic tier is quality_score) — fit on the lang
    // column as target-language weak supervision,
    "nb_train" -> ((s, d) =>
      nbFitted(s, d).select("term", "pos_cnt", "neg_cnt")),
    // score the corpus under the fitted model: micro-nat fixed-point
    // llr sums, so the result is partitioning-invariant,
    "nb_score" -> ((s, d) =>
      Classify.nbScore(Tables.documents(s, d), nbFitted(s, d))),
    // artifact lifecycle: fit → persist → load → score. Must equal
    // nb_score exactly (shared oracle),
    "nb_artifact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Classify.saveNb(Classify.nbTrain(docs), nbModelDir)
      Classify.nbScore(docs, Classify.loadNb(s, nbModelDir))
    }),

    // DSIR — hashed-n-gram importance resampling (Xie et al. 2023),
    // the FIXED-SIZE-model member of the selection tier (quality_score
    // is the heuristic, nb_* the open-vocabulary trained filter): the
    // model is ≤ numBuckets rows no matter the corpus. Target = the
    // lang='en' slice as weak supervision, like nb_train,
    "dsir_fit" -> ((s, d) =>
      Dsir.fitBuckets(Tables.documents(s, d),
        coalesce(col("lang"), lit("")) === "en")),
    // per-document log importance weight ln p(x)/q(x) under the fitted
    // buckets: micro-nat fixed-point cross-ratio sums, so the weight is
    // partitioning-invariant (the nb_score discipline). The model comes
    // from the per-dir memoized fit (dsirFitted) — passing the
    // UNMATERIALIZED fitBuckets frame here re-ran the whole corpus
    // explode+aggregate twice per query (once for modelTotals' collect,
    // once for the broadcast side) before scoring even started —
    // measured 17.6 s/query at sf0.1 vs 11.8 s through the persisted
    // artifact. The production shape is fit-once-score-many anyway.,
    "dsir_weights" -> ((s, d) =>
      dsirWeigh(s, Tables.documents(s, d), dsirFitted(s, d))),
    // the paper's resampling step: Gumbel-top-k without replacement
    // ∝ exp(logw), md5-derived noise so every engine draws the same 50,
    "dsir_sample" -> ((s, d) =>
      Dsir.gumbelTopK(
        dsirWeigh(s, Tables.documents(s, d), dsirFitted(s, d)),
        n = 50)),
    // the STATELESS scoring twin: the ≤1024-row model collected into one
    // map literal, scored with zero joins and zero shuffles (the form a
    // streaming selector runs). Must equal dsir_weights bit-for-bit
    // (shared oracle) — the llr values come from the same Spark
    // expressions, only the delivery differs (broadcast join vs literal),
    "dsir_score_map" -> ((s, d) =>
      Dsir.scoreWith(Dsir.collectModel(dsirFitted(s, d)),
        Tables.documents(s, d))),
    // artifact lifecycle: fit → persist → load → weight. Must equal
    // dsir_weights exactly (shared oracle),
    "dsir_artifact" -> ((s, d) => {
      val docs = Tables.documents(s, d)
      Dsir.saveDsir(
        Dsir.fitBuckets(docs, coalesce(col("lang"), lit("")) === "en"),
        dsirModelDir)
      dsirWeigh(s, docs, Dsir.loadDsir(s, dsirModelDir))
    }),
  )

  /** Weight a corpus under a fitted DSIR model through the collected
    * map literal + native fold kernel ([[Dsir.collectModel]] +
    * [[Dsir.scoreWith]]) — bit-identical to the broadcast-join
    * [[Dsir.logImportance]] path by DsirSpec's row-for-row parity test
    * and the shared oracle, and measured faster at sf0.1 (MatDrill
    * interleaved min: dsir_weights 0.88 vs 2.13, dsir_sample 1.25 vs
    * 2.42, dsir_artifact 2.71 vs 3.17 — r22). The model is ≤ numBuckets
    * rows by construction, so the driver collect is a constant, never
    * corpus-bounded. logImportance remains the reference join form
    * (spec-pinned) for callers whose model frame is not yet fitted. */
  private def dsirWeigh(s: SparkSession, docs: DataFrame,
                        model: DataFrame): DataFrame =
    Dsir.scoreWith(Dsir.collectModel(model), docs)

  protected def subwordOracles: Map[String, String] = Map(
    "bpe_pairs" ->
      s"""WITH ${bpeCtes(1)}
         |SELECT lhs, rhs, freq FROM p1
         |ORDER BY freq DESC, lhs, rhs LIMIT 20""".stripMargin,
    "bpe_learn" -> {
      val rows = (1 to 6).map(j =>
        s"SELECT CAST($j AS INTEGER) AS merge_rank, lhs, rhs, lhs || rhs AS merged, freq FROM b$j")
        .mkString("\nUNION ALL ")
      s"""WITH ${bpeCtes(6)}
         |$rows""".stripMargin
    },
    "bpe_tokens" -> bpeTokensOracle,

    // the artifact roundtrip changes WHERE the merges come from (a
    // persisted parquet model), not WHAT they compute — the oracle is
    // bpe_tokens' replay, shared by reference so the two can never
    // drift,
    "bpe_artifact" -> bpeTokensOracle,
    "corpus_delta" ->
      """WITH oldc AS (
        | SELECT doc_id, md5(coalesce(text, '')) AS old_hash
        | FROM documents WHERE doc_id % 13 <> 0),
        |newc AS (
        | SELECT doc_id, md5(coalesce(
        |   CASE WHEN doc_id % 5 = 0 THEN text || ' rev2' ELSE text END, '')) AS new_hash
        | FROM documents WHERE doc_id % 17 <> 0)
        |SELECT COALESCE(o.doc_id, n.doc_id) AS doc_id,
        | CASE WHEN o.old_hash IS NULL THEN 'added'
        |      WHEN n.new_hash IS NULL THEN 'removed'
        |      WHEN o.old_hash <> n.new_hash THEN 'changed' END AS status,
        | o.old_hash, n.new_hash
        |FROM oldc o FULL OUTER JOIN newc n ON o.doc_id = n.doc_id
        |WHERE o.old_hash IS NULL OR n.new_hash IS NULL
        |   OR o.old_hash <> n.new_hash""".stripMargin,
    "zorder_layout" -> {
      val terms = (0 until 8).flatMap(i => Seq(
        s"(((xb >> $i) & 1) << ${2 * i})", s"(((yb >> $i) & 1) << ${2 * i + 1})"))
        .mkString(" | ")
      s"""WITH b AS (SELECT event_id, user_id % 256 AS xb,
         | (epoch_us(ts) // 1000000) % 256 AS yb FROM events)
         |SELECT event_id, xb AS x_bucket, yb AS y_bucket,
         | CAST($terms AS BIGINT) AS zval FROM b""".stripMargin
    },
    "subword_encode" ->
      s"""WITH RECURSIVE ${bpeCtes(6)},
         |$greedyCtes
         |SELECT piece, CAST(sum(freq) AS BIGINT) AS freq
         |FROM (SELECT freq, unnest(string_split(trim(out), ' ')) AS piece
         |      FROM r WHERE pos > len(word)) u
         |GROUP BY piece""".stripMargin,
    "subword_doc_tokens" ->
      s"""WITH RECURSIVE ${bpeCtes(6)},
         |$greedyCtes,
         |wt AS (SELECT word,
         |        CAST(len(string_split(trim(out), ' ')) AS INTEGER) AS word_pieces
         |       FROM r WHERE pos > len(word)),
         |dw AS (SELECT doc_id, unnest(regexp_extract_all(lower(text), '[a-z]+')) AS word
         |       FROM documents)
         |SELECT doc_id, count(*) AS n_words, CAST(sum(word_pieces) AS BIGINT) AS n_pieces
         |FROM dw JOIN wt USING (word) GROUP BY doc_id""".stripMargin,
    "global_index" ->
      """SELECT doc_id, n_chars,
        | CAST(row_number() OVER (ORDER BY doc_id) - 1 AS BIGINT) AS global_idx
        |FROM documents""".stripMargin,

    // replay of `Unigram.fitSeed` + `viterbiStats` (maxPieceLen 4, keepTop 40):
    // substring seed counts, single-chars + top-40 multi-char pruning,
    // then the per-word Viterbi cost table grown one character per
    // recursion step — min over pieces ending at the new position via
    // the correlated scalar subquery, cost base BIG recomputed from the
    // same definition (max word length · max piece count + 1),
    "unigram_viterbi" -> unigramViterbiOracle,

    // the artifact roundtrip changes WHERE the model comes from (a
    // persisted parquet artifact), not WHAT it computes — shared oracle,
    "unigram_artifact" -> unigramViterbiOracle,

    // the unigram chain extended by the canonical backtrack: from each
    // word's end take the LONGEST piece whose cost edge is tight
    // (cost(pos−l) + BIG − cnt = cost(pos)) — the same max-length
    // integer-equality rule `Unigram.backtrack` compiles — then roll
    // the emitted pieces into frequency-weighted expected counts,
    "unigram_em" ->
      s"""$unigramCtes,
         |$unigramBtCtes
         |SELECT piece, CAST(sum(freq) AS BIGINT) AS expected_cnt
         |FROM (SELECT freq, unnest(string_split(trim(out), ' ')) AS piece
         |      FROM bt WHERE pos = 0) u
         |GROUP BY piece""".stripMargin,

    // the unigram chain + the backtrack, then ROUND 2: the expected
    // counts become pieces2, BIG re-derives over the new count range,
    // and the same cost-table recursion re-runs under the round-2 model,
    "unigram_em2" ->
      s"""$unigramCtes,
         |$unigramBtCtes,
         |pieces2 AS (
         |  SELECT piece, CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest(string_split(trim(out), ' ')) AS piece
         |        FROM bt WHERE pos = 0) u
         |  GROUP BY piece),
         |bigc2 AS (SELECT (SELECT max(len(word)) FROM uv) * (SELECT max(cnt) FROM pieces2) + 1 AS big),
         |r2(word, freq, pos, costs) AS (
         |  SELECT word, freq, 0, [CAST(0 AS BIGINT)] FROM uv
         |  UNION ALL
         |  SELECT word, freq, pos + 1, list_append(costs,
         |    (SELECT min(r2.costs[r2.pos + 2 - len(p.piece)] + (SELECT big FROM bigc2) - p.cnt)
         |     FROM pieces2 p
         |     WHERE len(p.piece) <= r2.pos + 1
         |       AND substr(r2.word, r2.pos + 2 - len(p.piece), len(p.piece)) = p.piece))
         |  FROM r2 WHERE pos < len(word))
         |SELECT word, freq,
         |  CAST(costs[len(word) + 1] // (SELECT big FROM bigc2) + 1 AS BIGINT) AS n_pieces,
         |  CAST((costs[len(word) + 1] // (SELECT big FROM bigc2) + 1) * (SELECT big FROM bigc2)
         |       - costs[len(word) + 1] AS BIGINT) AS piece_mass
         |FROM r2 WHERE pos = len(word)""".stripMargin,

    // the EM loop's trace: replay maxIters rounds of (DP → canonical
    // backtrack → refit) as generated CTEs, compute each round's
    // corpus totals, then keep rows up to and including the first
    // non-improving round — the same integer stopping rule the engine
    // runs,
    "unigram_em_loop" -> unigramLoopSql(maxRounds = 4),

    // file skipping must be invisible to results: the oracle is the
    // PLAIN filter. epoch_us(ts) is unit-agnostic on the DuckDB side
    // (µs per the verify-skill gotcha), ×1000 matches Tables.events'
    // ts_ns normalization,
    "stats_prune" ->
      """SELECT event_id, user_id, epoch_us(ts) * 1000 AS ts_ns
        |FROM events WHERE user_id BETWEEN 10 AND 20""".stripMargin,

    // skipping must be invisible to the tumbling consumer too: the
    // oracle is the plain filtered aggregate over the whole table. The
    // slice bounds replay the engine's integer arithmetic (positive
    // spans, so // and Long division agree),
    "prune_tumbling" ->
      """WITH b AS (SELECT min(epoch_us(ts) * 1000) AS mn, max(epoch_us(ts) * 1000) AS mx
        |           FROM events),
        |f AS (SELECT event_type, epoch_us(ts) * 1000 AS ts_ns, value
        |      FROM events, b
        |      WHERE epoch_us(ts) * 1000 BETWEEN mn + (mx - mn) // 4
        |                                    AND mn + (mx - mn) // 2)
        |SELECT (ts_ns // 600000000000) * 600 AS win_start_s, event_type,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_value_micro
        |FROM f GROUP BY 1, 2""".stripMargin,

    // string skipping must be invisible too: plain equality filter,
    "prune_by_type" ->
      """SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
        |  CAST(sum(CAST(round(value * 1e6) AS BIGINT)) AS BIGINT) AS sum_value_micro
        |FROM events WHERE event_type = 'purchase'
        |GROUP BY event_type""".stripMargin,

    // WordPiece training replay: like bpe_learn's chain but each round
    // also recounts SYMBOL frequencies (sy_j) and ranks pairs by the
    // likelihood score freq/(fl·fr) — the same IEEE double division the
    // engine computes — with the fused symbol keeping only the leading
    // ## marker,
    "wordpiece_learn" -> {
      val rows = (1 to 6).map(j =>
        s"SELECT CAST($j AS INTEGER) AS merge_rank, lhs, rhs, merged, freq FROM b$j")
        .mkString("\nUNION ALL ")
      s"""WITH ${wpCtes(6)}
         |$rows""".stripMargin
    },

    // greedy ##-marked encode under the trained vocabulary: position 1
    // matches only unmarked pieces, later positions only ##-marked ones
    // (on their marker-stripped surface), the emitted piece carries the
    // marker — the engine's wordpiecePieces fold as a recursive CTE,
    "wordpiece_tokens" -> wordpieceTokensOracle,

    // the artifact roundtrip changes WHERE the merges come from (a
    // persisted parquet model), not WHAT they compute — shared oracle,
    "wordpiece_artifact" -> wordpieceTokensOracle,

    // same chain over the literal degenerate corpus: rounds past
    // exhaustion ride the empty-b_j LEFT-JOIN fallback in wpCtes,
    "wordpiece_exhausted" ->
      wordpieceTokensOracleFor("(SELECT 'aa aa ab' AS text)"),

    // NB training: per-term class counts under the lang='en' weak label,
    "nb_train" ->
      s"""WITH $nbCtes
         |SELECT term, pos_cnt, neg_cnt FROM counts""".stripMargin,
    "nb_score" -> nbScoreOracle,

    // artifact roundtrip: fit → persist → load → score, same oracle,
    "nb_artifact" -> nbScoreOracle,

    // DSIR fit replay: hashed unigram+bigram features into 1024 buckets
    // (the repo's md5-prefix integer), raw = whole corpus, target = the
    // lang='en' slice; every row carries the denormalized totals,
    "dsir_fit" ->
      s"""WITH $dsirCtes
         |SELECT bucket, tgt_cnt, raw_cnt, tgt_tot, raw_tot,
         | CAST(1024 AS BIGINT) AS n_buckets
         |FROM dcounts CROSS JOIN dtot""".stripMargin,
    "dsir_weights" -> dsirWeightsOracle,

    // the collected-map scoring twin is bit-identical by construction
    // (same llr expressions, literal delivery) — same oracle,
    "dsir_score_map" -> dsirWeightsOracle,

    // Gumbel-top-k replay: the same micro-nat weight plus
    // −ln(−ln u), u = (md5-prefix-int + 0.5)/2^60 — deterministic noise
    // strictly inside (0,1) (at u=1 Spark's log(0) NULLs while DuckDB's
    // ln(0) raises — the half-step keeps the engines agreeing even on
    // the ~2⁻⁵³ edge), ranked on the unrounded double (the
    // weighted_sample discipline),
    "dsir_sample" ->
      s"""WITH $dsirCtes,
         |$dsirWeightCte
         |SELECT doc_id, n_feats, logw, round(g_raw, 9) AS g_key FROM (
         | SELECT *, logw - ln(-ln(
         |   ((('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))::BIGINT + 0.5)
         |      / 1152921504606846976.0))) AS g_raw FROM dw) keyed
         |ORDER BY g_raw DESC, doc_id LIMIT 50""".stripMargin,

    // artifact roundtrip: fit → persist → load → weight, same oracle,
    "dsir_artifact" -> dsirWeightsOracle,
  )
}
