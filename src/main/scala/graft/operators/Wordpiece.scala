package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed WordPiece tokenizer training — the third subword family
  * next to merge-order BPE ([[Bpe]]) and the unigram LM ([[Unigram]]),
  * completing the tokenizer tier a training-data pipeline ships
  * (beyond-reference; the reference consumes a provider tokenizer,
  * `embedding_service.py`).
  *
  * WordPiece differs from BPE in exactly two observable ways, both
  * implemented here:
  *
  *  - **Likelihood scoring**: each round merges the pair maximizing
  *    `freq(lr) / (freq(l) · freq(r))` — the pair whose fusion most
  *    increases the corpus likelihood under a unigram symbol model —
  *    instead of BPE's raw pair count. The denominators are CURRENT
  *    symbol frequencies, recounted after every merge.
  *  - **Continuation markers**: the symbol alphabet distinguishes
  *    word-initial from word-internal characters ("key" seeds as
  *    `k ##e ##y`), so `k` and `##k` are separate symbols with separate
  *    statistics, and fused symbols keep only the LEADING marker
  *    (`##e + ##y → ##ey`). Encode emits the marked pieces — the BERT
  *    vocabulary convention.
  *
  * Scale design matches [[Bpe]]: the corpus collapses ONCE to
  * `(word, freq)` and every training pass — symbol counts, pair
  * counts, argmax, rewrite — runs over the VOCABULARY (≈10^8 distinct
  * words at 100 TB), never the corpus. Iterations are sequential (one
  * small job each), NOT batch-accepted like [[Bpe.selectBatch]]: the
  * likelihood score's denominators change for every pair sharing a
  * symbol with an applied merge, so the prefix-batch safety argument
  * (count-domination of minted pairs) does not transfer — real
  * WordPiece trainers recount every round for the same reason. Driver
  * state is one argmax row per round (the MLlib centroid pattern).
  *
  * Score comparison is IEEE double division of bigint-cast counts
  * (`CAST(freq AS DOUBLE) / (CAST(fl AS DOUBLE) * CAST(fr AS DOUBLE))`)
  * — both this trainer and the DuckDB oracle evaluate the identical
  * expression, and ties break on the exact (lhs, rhs) string order, so
  * the merge sequence is deterministic by construction. Only integer
  * and string columns are ever OUTPUT (scores stay internal).
  */
object Wordpiece {

  private def wordsCol(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** A word as its marker-carrying symbol sequence: first character
    * plain, every later character `##`-prefixed ("key" → "k ##e ##y").
    * ONE definition shared by the trainer ([[wordVocab]]) and the
    * artifact replay ([[applyMergeHistory]]). */
  private def markedSeq(word: Column): Column =
    when(length(word) <= 1, word).otherwise(concat(
      substring(word, 1, 1), lit(" "),
      trim(regexp_replace(word.substr(lit(2), length(word)), "(.)", "##$1 "))))

  /** Corpus → `(word, freq, seq)` with the marked alphabet. One
    * aggregation over the scan; the frame every round runs on. */
  def wordVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(wordsCol(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("seq", markedSeq(col("word")))

  /** Current symbol frequencies over a vocabulary — the denominators of
    * the likelihood score. Vocab-bounded aggregation. */
  def symbolCounts(vocab: DataFrame): DataFrame =
    vocab
      .select(col("freq"), explode(split(col("seq"), " ")).as("sym"))
      .groupBy("sym").agg(sum("freq").as("cnt"))

  /** Pair counts scored with the likelihood ratio `freq / (fl · fr)`.
    * The denominators are the CURRENT symbol frequencies, collected to
    * the driver once per call and shipped as a map literal: the symbol
    * inventory is MODEL-bounded (alphabet + applied merges — the same
    * class [[pieceInventory]] already collects), never corpus- or
    * vocab-bounded, so this holds at 100 TB. The old shape joined two
    * broadcast projections of [[symbolCounts]] instead, which evaluated
    * the symbol aggregation subtree once per broadcast build — two
    * extra vocab passes and two exchange builds per training round
    * (r22, guide §1.2-1/§2.4; MatDrill interleaved wordpiece_artifact
    * flat at sf0.1 — min 1.91 vs 1.82, median 2.53 vs 2.78 — the cached
    * fixture vocab makes the extra passes noise, but at a 10⁸-word
    * vocabulary each is a real aggregation). The score arithmetic is
    * unchanged IEEE:
    * `CAST(freq AS DOUBLE) / (CAST(fl AS DOUBLE) * CAST(fr AS DOUBLE))`
    * with the counts now riding as literals. */
  def scoredPairs(vocab: DataFrame): DataFrame = {
    val syms = typedlit(symbolCounts(vocab).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap)
    Bpe.pairCounts(vocab)
      .select(col("lhs"), col("rhs"), col("freq"),
        (col("freq").cast("double") /
          (element_at(syms, col("lhs")).cast("double") *
            element_at(syms, col("rhs")).cast("double"))).as("score"))
  }

  /** Fused symbol: the pair's characters with only the LEADING marker
    * kept (`##e + ##y → ##ey`; `k + ##e → ke`). */
  def fuse(l: String, r: String): String =
    l + (if (r.startsWith("##")) r.drop(2) else r)

  /** One spread-replace-collapse application of merge (l, r) →
    * `merged` — [[Bpe.applyMerge]]'s EXACT token-level greedy leftmost
    * non-overlapping semantics (see [[Bpe]]'s scaladoc for the
    * doubled-separator argument) with the marker-stripped fused symbol
    * substituted instead of plain concatenation. `WordpieceSpec`'s
    * property test drives 24-char single-char runs against a
    * token-level reference to pin the run behavior. */
  def applyMerge(seq: Column, l: String, r: String, merged: String): Column =
    Bpe.collapse(replace(Bpe.spread(seq), lit(s" $l  $r "), lit(s" $merged ")))

  /** Learn `numMerges` likelihood-scored merges. Ties break on
    * (score DESC, lhs ASC, rhs ASC). Returns the merge list (reusing
    * [[Bpe.Merge]]; `merged` carries the marker-stripped fusion) and
    * the final rewritten vocabulary. `localCheckpoint` per round
    * truncates the k-deep rewrite lineage. */
  def learnMerges(docs: DataFrame, numMerges: Int,
                  textCol: String = "text"): (Seq[Bpe.Merge], DataFrame) = {
    require(numMerges >= 1, s"need numMerges >= 1, got $numMerges")
    var vocab = wordVocab(docs, textCol).localCheckpoint()
    val merges = Seq.newBuilder[Bpe.Merge]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val top = scoredPairs(vocab)
        .orderBy(desc("score"), asc("lhs"), asc("rhs"))
        .limit(1).collect()
      if (top.isEmpty) exhausted = true // every word is one symbol
      else {
        val (l, r, f) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
        val m = fuse(l, r)
        merges += Bpe.Merge(rank, l, r, m, f)
        vocab = vocab.withColumn("seq", applyMerge(col("seq"), l, r, m))
          .localCheckpoint()
        rank += 1
      }
    }
    (merges.result(), vocab)
  }

  /** Replay a persisted merge history over a (word, freq) vocabulary in
    * rank order — the inference path for a NEW corpus under a saved
    * model ([[Bpe.saveModel]]/[[Bpe.loadModel]] store the rows; the
    * stored `merged` column carries the marker-stripped fusion, so the
    * replay never re-derives it). Shuffle-free projection. */
  def applyMergeHistory(vocab: DataFrame, merges: Seq[Bpe.Merge]): DataFrame = {
    val rewritten = merges.sortBy(_.rank).foldLeft(markedSeq(col("word")))(
      (c, m) => applyMerge(c, m.lhs, m.rhs, m.merged))
    vocab.withColumn("seq", rewritten)
  }

  /** The trained model's marked piece inventory — every distinct symbol
    * of the final vocabulary, driver-side and sorted (this IS the
    * shipped vocab file in BERT terms; size bounded by merges +
    * alphabet, never the corpus). */
  def pieceInventory(finalVocab: DataFrame): Seq[String] =
    finalVocab.select(explode(split(col("seq"), " ")).as("piece"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted

  /** Greedy longest-match WordPiece encode of `word` against a marked
    * inventory: position 1 may only match UNMARKED pieces, later
    * positions only `##`-marked ones (matching their marker-stripped
    * surface), and the emitted piece carries the marker — BERT's
    * `tokenize` loop as one codegen'd expression tree, the
    * marker-aware sibling of [[Bpe.greedyPieces]]. A position with no
    * inventory match emits its single (marked) character and continues,
    * the same out-of-alphabet fallback the BPE encoder uses. */
  def wordpiecePieces(word: Column, pieces: Seq[String]): Column = {
    require(pieces.nonEmpty, "empty piece inventory")
    // native kernel (r22): position 1 probes the unmarked inventory,
    // later positions the marker-stripped continuation surfaces, `##`
    // re-attached on emit — one codegen'd loop per word instead of the
    // interpreted HOF fold (see [[Bpe.greedyPieces]]; bit-parity with
    // the test tree's `ReferenceForms.wordpiecePiecesHof` is spec-pinned).
    val (cm, init) = pieces.partition(_.startsWith("##"))
    org.apache.spark.sql.GraftColumns.column(
      graft.functions.GreedyPiecesExpr(
        org.apache.spark.sql.GraftColumns.expression(word),
        init, cm.map(_.drop(2)), "##"))
  }

  /** Corpus-wide marked-piece frequencies under a trained vocabulary:
    * `(piece, freq)`, freq weighted by word frequency. Vocab-compressed
    * — the encode runs once per DISTINCT word and the inventory rides
    * along as a literal (the broadcast-a-model pattern without the
    * broadcast). */
  def pieceCounts(finalVocab: DataFrame): DataFrame = {
    val pieces = pieceInventory(finalVocab)
    finalVocab
      .select(col("freq"), explode(wordpiecePieces(col("word"), pieces)).as("piece"))
      .groupBy("piece").agg(sum("freq").as("freq"))
  }
}
