package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training (beyond-reference
  * training-data-pipeline tier; the reference counts tokens with a
  * provider-supplied tokenizer, `embedding_service.py` — here the
  * tokenizer itself is TRAINED on the corpus, the way SentencePiece /
  * HuggingFace `tokenizers` do it).
  *
  * Scale design — the whole trainer is vocab-compressed: the corpus is
  * collapsed ONCE to `(word, freq)` (one shuffle over the scan), and
  * every subsequent pass — pair counting, argmax, merge application —
  * runs over the VOCABULARY, never the corpus. At 100 TB the corpus is
  * ~10^11 words but the distinct-word vocab is ~10^8 rows, so the k
  * merge iterations are k cheap jobs over a checkpointed 10^8-row
  * frame, exactly the compression real BPE trainers rely on. The only
  * driver-side state is the argmax pair per iteration (k rows total —
  * the MLlib centroid pattern, not a data-scale collect).
  *
  * Merge-application semantics: a merge (l, r) rewrites the
  * space-delimited symbol sequence by TOKEN-LEVEL GREEDY LEFTMOST
  * NON-OVERLAPPING replacement — the published BPE rule — computed
  * EXACTLY by one literal string replace over a separator-doubled
  * form: double every separator, pad, replace " l  r " with " lr ".
  * Each boundary carries TWO spaces, so a match consumes one from each
  * side and still leaves its neighbors' delimiters intact — the
  * consumed-delimiter artifact of a single-spaced replace (which hides
  * the adjacent next occurrence and, on runs of ≥ 5 identical symbols,
  * converges to a DIFFERENT fixpoint than token greedy: found by the
  * r14 long-run property test) cannot occur, and one pass is provably
  * exhaustive: a merge never creates a new (l, r) adjacency because
  * the fused symbol is strictly longer than either side. Both this
  * implementation and the DuckDB oracle apply the SAME
  * spread-replace-collapse form, so the semantics are pinned by
  * construction, not by luck.
  */
object Bpe {

  /** Words = lowercase `[a-z]+` runs — the same token alphabet the
    * lang-id/quality tier uses, and trivially replayable in DuckDB. */
  private def wordsCol(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** A word as its space-joined character sequence ("key" → "k e y") —
    * ONE definition shared by the trainer ([[wordVocab]]) and the
    * inference replay ([[applyMergeHistory]]): the artifact roundtrip
    * reproduces the trained vocab only if both sides build `seq`
    * identically. */
  private def charSeq(word: Column): Column =
    trim(regexp_replace(word, "(.)", "$1 "))

  /** Corpus → `(word, freq, seq)` vocabulary: ONE aggregation over the
    * scan, `seq` = characters joined by single spaces ("key" → "k e y").
    * This is the frame every BPE iteration runs on. */
  def wordVocab(docs: DataFrame, textCol: String = "text"): DataFrame =
    docs
      .select(explode(wordsCol(col(textCol))).as("word"))
      .groupBy("word").agg(count(lit(1)).as("freq"))
      .withColumn("seq", charSeq(col("word")))

  /** Adjacent-symbol pair counts over a vocabulary, weighted by word
    * frequency: `(lhs, rhs, freq)` (not left/right — those are join
    * keywords in the oracle's SQL dialect). Per-row generator + one
    * vocab-bounded aggregation — the pair space is O(vocab · word_len),
    * independent of corpus size. */
  def pairCounts(vocab: DataFrame): DataFrame =
    vocab
      .withColumn("syms", split(col("seq"), " "))
      .filter(size(col("syms")) >= 2)
      .select(col("freq"), explode(expr(
        "transform(sequence(0, size(syms) - 2)," +
          " i -> struct(syms[i] AS lhs, syms[i + 1] AS rhs))")).as("pair"))
      .groupBy(col("pair.lhs").as("lhs"), col("pair.rhs").as("rhs"))
      .agg(sum("freq").as("freq"))

  /** Separator-doubled padded form: every boundary carries two spaces,
    * one for each neighboring match (see the object scaladoc). */
  private[operators] def spread(seq: Column): Column =
    concat(lit(" "), replace(seq, lit(" "), lit("  ")), lit(" "))

  /** Undo [[spread]]: the double-separator invariant holds after any
    * number of merge replacements, so one collapse pass suffices. */
  private[operators] def collapse(c: Column): Column =
    trim(replace(c, lit("  "), lit(" ")))

  /** Apply merge (l, r) to `seq`: spread, ONE replace of " l  r " →
    * " lr ", collapse — exact token-level greedy leftmost
    * non-overlapping merge (object scaladoc has the argument). Literal
    * pattern — the merge is already driver-side (it IS the learned
    * model), so no join is needed to apply it. */
  def applyMerge(seq: Column, l: String, r: String): Column =
    collapse(replace(spread(seq), lit(s" $l  $r "), lit(s" $l$r ")))

  /** A learned merge: rank (1-based), the pair, the fused symbol, and
    * the weighted pair frequency at selection time. */
  final case class Merge(rank: Int, lhs: String, rhs: String, merged: String, freq: Long)

  /** Learn `numMerges` merges: iteratively (pair-count → argmax →
    * rewrite vocab). Ties break on (freq DESC, left ASC, right ASC) —
    * the same total order the oracle's window sort uses. Returns the
    * merge list and the final rewritten vocabulary. The per-iteration
    * `localCheckpoint` truncates lineage (k nested rewrites would
    * otherwise stack k plans); at real scale the vocab frame is the
    * natural persist point and each iteration is one small job.
    *
    * BATCHED iterations: a naive trainer runs one count job + one
    * rewrite per merge — O(k) driver round-trips, prohibitive at a
    * production 50k-merge vocabulary. Each iteration here collects the
    * HEAD of the pair ranking once and accepts the longest rank-prefix
    * provably safe to apply together (see [[selectBatch]] for the
    * exactness argument), so k merges cost O(k/m) jobs while the merge
    * sequence — order, freqs, ties — is bit-identical to the
    * one-at-a-time trainer (`BpeSpec` pins both the equality and the
    * job-count drop). `maxBatch = 1` recovers the sequential loop. */
  def learnMerges(docs: DataFrame, numMerges: Int,
                  textCol: String = "text", maxBatch: Int = 16): (Seq[Merge], DataFrame) = {
    require(numMerges >= 1, s"need numMerges >= 1, got $numMerges")
    require(maxBatch >= 1, s"need maxBatch >= 1, got $maxBatch")
    var vocab = wordVocab(docs, textCol).localCheckpoint()
    val merges = Seq.newBuilder[Merge]
    var rank = 1
    var exhausted = false
    while (rank <= numMerges && !exhausted) {
      val remaining = numMerges - rank + 1
      val take = math.min(maxBatch, remaining)
      // head size: enough rows to both fill a batch and witness the
      // created-pair threat set; the +1 marks the completeness floor
      // (every pair with freq > the last collected row's freq is in the
      // list; at the floor itself the limit may have cut ties)
      val topN = math.max(take * 4, 8) + 1
      val top = pairCounts(vocab)
        .orderBy(desc("freq"), asc("lhs"), asc("rhs"))
        .limit(topN).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      if (top.isEmpty) exhausted = true // every word is a single symbol
      else {
        val batch = selectBatch(top, topN, take)
        batch.foreach { case (l, r, f) =>
          merges += Merge(rank, l, r, l + r, f); rank += 1
        }
        val rewritten = batch.foldLeft(col("seq")) {
          case (c, (l, r, _)) => applyMerge(c, l, r)
        }
        vocab = vocab.withColumn("seq", rewritten).localCheckpoint()
      }
    }
    (merges.result(), vocab)
  }

  /** The longest rank-prefix of `top` that can be applied in ONE vocab
    * rewrite while reproducing the sequential trainer's merge sequence
    * exactly. A candidate joins the batch only when, for every already-
    * accepted merge j = (lj, rj):
    *
    *  - its symbols (lhs, rhs, and the fused lhs+rhs) are disjoint from
    *    j's {lj, rj, ljrj}: no shared symbol means no occurrence of the
    *    candidate pair can be destroyed, created, or overlapped by
    *    applying j (pair occurrences overlap only through a shared
    *    symbol position; minted occurrences always involve the fused
    *    symbol);
    *  - no CURRENT pair q adjacent to j — q.rhs = lj or q.lhs = rj —
    *    has freq ≥ the candidate's: a pair minted by applying j, e.g.
    *    (x, ljrj), occurs at most once per "x lj rj" trigram, so its
    *    count is ≤ freq(x, lj); bounding every potential creator below
    *    the candidate's freq (strictly — a tie could still win on the
    *    lexicographic tie-break) guarantees no minted pair outranks the
    *    candidate at its sequential selection step. The bound survives
    *    minted-from-minted chains: a pair minted off another minted
    *    symbol is count-dominated by the same current-count neighbor.
    *  - its freq is strictly above the completeness floor (the last
    *    collected row), so every possible creator q is IN the list;
    *  - no accepted merge is a self-pair (lj = rj): overlapping
    *    occurrences break the disjoint-replacement reasoning, so a
    *    self-pair closes its batch (it still merges — alone).
    *
    * On the first rejection the batch CLOSES (a non-prefix batch could
    * skip the pair the sequential trainer would pick next). Within the
    * accepted prefix, disjointness makes the merges commute, so one
    * fold of [[applyMerge]] equals applying them one checkpoint at a
    * time. */
  private def selectBatch(top: Array[(String, String, Long)], topN: Int,
                          maxTake: Int): Seq[(String, String, Long)] = {
    val complete = top.length < topN // the list IS the whole pair space
    val floor = if (complete) Long.MinValue else top.last._3
    val accepted = Seq.newBuilder[(String, String, Long)]
    var acceptedPairs = List.empty[(String, String)]
    var used = Set.empty[String]
    var n = 0
    var closed = false
    for (cand @ (l, r, f) <- top if !closed && n < maxTake) {
      val syms = Set(l, r, l + r)
      if (n == 0) {
        accepted += cand; acceptedPairs ::= (l -> r); used = syms; n = 1
        if (l == r) closed = true
      } else {
        val threat = acceptedPairs.exists { case (lj, rj) =>
          top.exists { case (ql, qr, qf) => qf >= f && (qr == lj || ql == rj) }
        }
        if (l != r && f > floor && (syms & used).isEmpty && !threat) {
          accepted += cand; acceptedPairs ::= (l -> r); used ++= syms; n += 1
        } else closed = true
      }
    }
    accepted.result()
  }

  /** The learned merge table as a DataFrame — k rows, driver-built (the
    * merges ARE driver state, like fitted centroids). */
  def mergesDf(spark: SparkSession, merges: Seq[Merge]): DataFrame = {
    import spark.implicits._
    merges.toDF()
  }

  /** Persist a trained merge list (the model ARTIFACT — train once,
    * ship everywhere; a production 50k-merge train is far too expensive
    * to redo per job). Parquet, one row per merge, rank-ordered on
    * read. */
  def saveModel(spark: SparkSession, merges: Seq[Merge], dir: String): Unit =
    mergesDf(spark, merges).write.mode("overwrite").parquet(dir)

  /** Load a persisted merge list, rank order restored (parquet readers
    * return files/rows in any order). */
  def loadModel(spark: SparkSession, dir: String): Seq[Merge] = {
    import spark.implicits._
    spark.read.parquet(dir).as[Merge].collect().toSeq.sortBy(_.rank)
  }

  /** Apply a full merge HISTORY to a (word, freq) vocabulary in rank
    * order — the BPE inference path for a NEW corpus under a persisted
    * model: rebuild `seq`, fold every merge. One shuffle-free
    * projection regardless of k (the merges fold into one expression
    * tree; for a 50k-merge production model swap the literal fold for
    * a codegen'd trie Expression, same frame contract). */
  def applyMergeHistory(vocab: DataFrame, merges: Seq[Merge]): DataFrame = {
    val rewritten = merges.sortBy(_.rank).foldLeft(charSeq(col("word")))(
      (c, m) => applyMerge(c, m.lhs, m.rhs))
    vocab.withColumn("seq", rewritten)
  }

  /** Per-document token counts under a trained vocabulary: explode each
    * doc's words, join the final vocab (broadcast — the trained
    * tokenizer is exactly the small side you'd ship to every executor),
    * sum per-word symbol counts. `(doc_id, n_words, n_tokens)`. */
  def tokenCounts(docs: DataFrame, finalVocab: DataFrame,
                  idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val perWord = broadcast(
      finalVocab.select(col("word"), size(split(col("seq"), " ")).as("word_tokens")))
    docs
      .select(col(idCol), explode(wordsCol(col(textCol))).as("word"))
      .join(perWord, "word")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), sum("word_tokens").as("n_tokens"))
  }

  // --- greedy longest-match inference (the WordPiece / SentencePiece
  //     ENCODE algorithm, distinct from merge-order BPE application) ---

  /** The trained model's piece inventory — every distinct symbol the
    * merge-rewritten vocabulary uses — collected driver-side. Like the
    * merge list, the inventory IS the fitted model (WordPiece ships
    * exactly this artifact to inference workers); its size is bounded by
    * the merge count + alphabet, never the corpus. Sorted for a
    * deterministic literal. */
  def pieceInventory(finalVocab: DataFrame): Seq[String] =
    finalVocab.select(explode(split(col("seq"), " ")).as("piece"))
      .distinct().collect().map(_.getString(0)).toSeq.sorted

  /** Greedy longest-match segmentation of `word` against a piece
    * inventory: from the left, take the LONGEST inventory piece that
    * prefixes the remainder; if none matches (out-of-alphabet input),
    * emit the single character and continue — WordPiece's `tokenize`
    * loop, as one codegen'd expression tree with no UDF.
    *
    * Shape: `aggregate` walks positions 1..len carrying (pos, pieces);
    * a position below the carried cursor was consumed by an earlier
    * multi-char match and passes through. The longest-match probe is a
    * when-chain from maxLen down to 2 over `array_contains` on the
    * literal inventory — O(maxLen · |inventory|) comparisons per
    * position, the right trade while the inventory is merge-bounded
    * (dozens); a production 50k-piece inventory would swap the probe
    * for a trie inside a custom Expression, leaving this aggregate
    * skeleton unchanged. The guard `pos + l <= len + 1` stops a
    * truncated end-of-word substring from impersonating a shorter
    * piece. */
  def greedyPieces(word: Column, pieces: Seq[String]): Column = {
    require(pieces.nonEmpty, "empty piece inventory")
    // native kernel (r22) — the "custom Expression" upgrade the HOF
    // form's comment reserved: length-indexed hash-set probes in one
    // codegen'd loop instead of an interpreted O(maxLen·|inventory|)
    // when-chain per position. Flat at bench scale (MatDrill interleaved
    // min 0.64 vs 0.64 on subword_doc_tokens once mode-order bias is
    // controlled), adopted for the inventory-scale shape; bit-parity
    // with the test tree's `ReferenceForms.greedyPiecesHof` is spec-pinned.
    org.apache.spark.sql.GraftColumns.column(
      graft.functions.GreedyPiecesExpr(
        org.apache.spark.sql.GraftColumns.expression(word),
        pieces, pieces, ""))
  }

  /** Corpus-wide greedy-piece frequencies under a trained vocabulary:
    * `(piece, freq)`, freq weighted by word frequency. Vocab-compressed
    * like the trainer — segmentation runs once per DISTINCT word (the
    * `finalVocab` frame), never per corpus occurrence, so at 100 TB the
    * encode job is vocab-bounded and the inventory rides along as a
    * literal (the broadcast-a-model pattern without even a broadcast
    * join). Greedy output ≠ the training segmentation in general (a
    * piece minted inside one word may tile a different word better than
    * its own merge history) — that drift is the semantic this operator
    * measures. */
  def greedyPieceCounts(finalVocab: DataFrame): DataFrame = {
    val pieces = pieceInventory(finalVocab)
    finalVocab
      .select(col("freq"), explode(greedyPieces(col("word"), pieces)).as("piece"))
      .groupBy("piece").agg(sum("freq").as("freq"))
  }

  /** Per-document greedy token counts: each word's greedy piece count
    * (computed once per distinct word over the vocab, broadcast back)
    * joined to the exploded corpus — `(doc_id, n_words, n_pieces)`.
    * [[tokenCounts]]' inference twin: same join shape, greedy encode
    * instead of merge-history length. */
  def greedyTokenCounts(docs: DataFrame, finalVocab: DataFrame,
                        idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val pieces = pieceInventory(finalVocab)
    val perWord = broadcast(
      finalVocab.select(col("word"),
        size(greedyPieces(col("word"), pieces)).as("word_pieces")))
    docs
      .select(col(idCol), explode(wordsCol(col(textCol))).as("word"))
      .join(perWord, "word")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_words"), sum("word_pieces").as("n_pieces"))
  }
}
