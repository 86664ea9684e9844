package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, LongType, StringType}
import graft.functions.{Kernel, UnigramViterbi}

/** Unigram-LM subword segmentation (the SentencePiece model family),
  * beyond-reference training-pipeline tier alongside [[Bpe]].
  *
  * SentencePiece seeds a piece vocabulary from frequent substrings,
  * then EM-iterates: E-step = per-word Viterbi-best segmentation under
  * per-piece scores, M-step = re-estimate scores from the expected
  * counts. This implements the seed + the Viterbi DP with an INTEGER
  * objective — lexicographically (fewest pieces, then largest summed
  * piece frequency mass), encoded as one long `n·BIG − mass` — because
  * an engine-replayable oracle cannot compare float log-prob sums
  * (ulp-level `ln` differences across engines flip ties; see the
  * verify-skill gotchas). Swapping the per-piece cost `BIG − cnt` for
  * `round(−1e6·log p)` turns this into the textbook E-step unchanged.
  *
  * Scale design: everything is vocab-compressed like [[Bpe]] — the
  * corpus collapses once to `(word, freq)`, substring seeding and the
  * DP run over the vocabulary, and the kept piece inventory (all
  * single characters + top-K multi-char substrings: SentencePiece's
  * seed pruning) is driver-collected model state, shipped as a literal
  * map. The DP itself runs as a native codegen kernel
  * ([[graft.functions.UnigramViterbi]], r22) — one flat JVM loop per
  * word, no UDF, no join, no shuffle beyond the vocab aggregation; the
  * `aggregate`-expression forms (`ReferenceForms.viterbiTable` and
  * `backtrack` in the test tree) remain as the spec-pinned reference
  * (HOFs are CodegenFallback — interpreted per element — which is why
  * the kernel exists).
  */
object Unigram {

  /** Substring seed counts over a `(word, freq)` vocabulary: every
    * substring of length 1..`maxPieceLen`, weighted by word frequency
    * and counted per occurrence position. One generator + one
    * aggregation, both vocab-bounded. */
  def seedPieces(vocab: DataFrame, maxPieceLen: Int = 4): DataFrame = {
    val subs = flatten(expr(
      s"""transform(sequence(1, length(word)), s ->
         |  transform(sequence(1, least($maxPieceLen, length(word) - s + 1)), l ->
         |    substring(word, s, l)))""".stripMargin))
    vocab
      .select(col("freq"), explode(subs).as("piece"))
      .groupBy("piece").agg(sum("freq").as("cnt"))
  }

  /** SentencePiece's seed pruning, determinized: keep EVERY length-1
    * piece (so any in-alphabet word stays segmentable) plus the top
    * `keepTop` multi-character pieces by (cnt desc, piece asc). */
  def prunedSeed(seed: DataFrame, keepTop: Int = 40): DataFrame = {
    val ones = seed.filter(length(col("piece")) === 1)
    // top-K via orderBy+limit (TakeOrderedAndProject): a global
    // row_number window would funnel the whole multi-char substring
    // space — vocab · wordLen · maxPieceLen rows at corpus scale —
    // through one reducer; the bounded take is distributed and has the
    // identical deterministic result
    val multi = seed.filter(length(col("piece")) > 1)
      .orderBy(desc("cnt"), asc("piece")).limit(keepTop)
    ones.unionByName(multi)
  }

  /** The fitted seed model: piece → count map plus the cost-encoding
    * base `BIG = maxWordLen · maxCnt + 1`, chosen so that within one
    * piece-count tier no achievable mass (≤ maxWordLen · maxCnt) can
    * outweigh a tier step — minimizing `n·BIG − mass` is exactly the
    * lexicographic (min pieces, max mass) objective. */
  final case class SeedModel(pieces: Map[String, Long], maxPieceLen: Int, big: Long)

  /** Collect the pruned seed + the DP constants driver-side (the model
    * artifact — piece inventory sizes are pruning-bounded, not
    * corpus-bounded). */
  def fitSeed(vocab: DataFrame, maxPieceLen: Int = 4, keepTop: Int = 40): SeedModel = {
    // seam site (r22): [[prunedSeed]]'s union consumes the seed
    // aggregate TWICE (the length-1 branch and the top-K branch), and
    // the pushed-down length(piece) filters specialize each branch's
    // aggregate, so no exchange reuse fires — the substring explosion
    // runs once per branch (plan: plans/r22/ug_seed_union_dup.txt, two
    // Generate+Exchange chains). At bench scale the duplication is
    // noise over the checkpointed vocab (MatDrill unigram_artifact
    // min: none 1.05 / lazy 1.10 / eager 1.14), so the default is the
    // bench-identical passthrough; a cluster whose vocab explosion is a
    // real pass flips `spark.graft.materialize.mode.ug.seed` to
    // eager/reliable (the cur.sp precedent).
    val kept = prunedSeed(
      Mat.point(seedPieces(vocab, maxPieceLen), "ug.seed", default = "none"), keepTop)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    require(kept.nonEmpty, "empty corpus: no seed pieces")
    val maxWordLen = vocab.agg(max(length(col("word")))).head().getInt(0).toLong
    SeedModel(kept, maxPieceLen, maxWordLen * kept.values.max + 1)
  }

  private[graft] def probeLen(model: SeedModel): Int =
    math.min(model.maxPieceLen, model.pieces.keys.map(_.length).max)

  /** M-step statistics of the EM iteration: expected piece counts over
    * the corpus — each vocab word's canonical optimal segmentation,
    * weighted by word frequency — `(piece, expected_cnt)`. Re-deriving
    * piece scores from these counts and re-running [[viterbiStats]] IS
    * the next EM round; like everything here it is vocab-compressed, so
    * an iteration costs one vocab-bounded job regardless of corpus
    * size. */
  def expectedPieceCounts(vocab: DataFrame, model: SeedModel): DataFrame =
    vocab
      // native DP+backtrack kernel (r22): the expression form bound the
      // cost table and walked it with a second HOF aggregate (both
      // CodegenFallback, with the Generate-boundary workaround its
      // comment documented); the kernel computes table and canonical
      // walk in one codegen'd loop per word. Bit-parity with
      // the test tree's `ReferenceForms.backtrack` is spec-pinned. MatDrill interleaved min:
      // unigram_em 0.73 vs 1.59 s, unigram_em_loop 1.02 vs 1.81 s.
      .withColumn("__pieces",
        Kernel.call(UnigramViterbi, "pieces", ArrayType(StringType, containsNull = false),
          col("word"), UnigramViterbi.toJavaMap(model.pieces), model.big, probeLen(model)))
      .select(col("freq"), explode(col("__pieces")).as("piece"))
      .groupBy("piece").agg(sum("freq").as("expected_cnt"))

  /** Per-word optimal segmentation statistics over a `(word, freq)`
    * vocabulary: `(word, freq, n_pieces, piece_mass)` where `n_pieces`
    * is the MINIMUM piece count under the inventory and `piece_mass`
    * the largest frequency mass among those minimal segmentations —
    * decoded from the single DP cost, so tie-broken paths (same n, same
    * mass) need no canonical order. A word containing a character
    * absent from the model's alphabet yields a null cost and is
    * surfaced with null stats rather than dropped. */
  def viterbiStats(vocab: DataFrame, model: SeedModel): DataFrame = {
    // native DP kernel (r22): the HOF `aggregate` fold is
    // CodegenFallback — every step's 2·probeLen substring probes
    // re-evaluate interpreted per character. The kernel runs the
    // identical integer recurrence as one JVM loop inside whole-stage
    // codegen; bit-parity with the test tree's
    // `ReferenceForms.viterbiTable` is spec-pinned (UnigramSpec "native DP kernel equals the HOF expression form").
    // MatDrill interleaved min: unigram_viterbi 0.37 vs 0.62,
    // unigram_em2 0.97 vs 2.04 s.
    val cost = Kernel.call(UnigramViterbi, "cost", LongType, col("word"),
      UnigramViterbi.toJavaMap(model.pieces), model.big, probeLen(model))
    // exact long floor-division (a float divide would lose ulps once
    // costs pass 2^53 at real corpus scale); mass ≥ 1 keeps the cost
    // strictly inside its tier so `div` never lands on a boundary
    val n = expr(s"__cost div ${model.big}") + 1L
    vocab
      .withColumn("__cost", cost)
      .select(col("word"), col("freq"), n.as("n_pieces"),
        (n * lit(model.big) - col("__cost")).as("piece_mass"))
  }

  /** One full EM round: the M-step's expected counts BECOME the next
    * model's piece scores (unused pieces drop — SentencePiece's
    * pruning), with `BIG` re-derived for the new count range. Every
    * word stays segmentable: its previous canonical path's pieces all
    * earned counts, so at least that segmentation survives into the
    * next round. One vocab-bounded job per round regardless of corpus
    * size. */
  def emRound(vocab: DataFrame, model: SeedModel): SeedModel = {
    val counts = expectedPieceCounts(vocab, model).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    require(counts.nonEmpty, "EM round over an empty segmentation")
    val maxWordLen = vocab.agg(max(length(col("word")))).head().getInt(0).toLong
    SeedModel(counts, model.maxPieceLen, maxWordLen * counts.values.max + 1)
  }

  /** One EM iteration's corpus-level summary: the model's piece
    * inventory size and the frequency-weighted totals of the optimal
    * segmentations — `total_pieces` is the integer objective's primary
    * tier, comparable ACROSS rounds (piece counts don't depend on the
    * per-round `BIG` rescale the way raw costs do), which is what the
    * loop's stopping rule reads. */
  final case class EmIter(iter: Int, model_pieces: Int,
                          total_pieces: Long, total_mass: Long)

  /** Corpus totals under a model: `(Σ freq·n_pieces, Σ freq·mass)`.
    * An empty/all-filtered vocabulary sums to null — surface that as a
    * descriptive error instead of letting `getLong` throw an opaque
    * NullPointerException from inside the EM loop. */
  private def corpusTotals(vocab: DataFrame, model: SeedModel): (Long, Long) = {
    val r = viterbiStats(vocab, model)
      .agg(sum(col("freq") * col("n_pieces")).as("tp"),
        sum(col("freq") * col("piece_mass")).as("tm")).head()
    require(!r.isNullAt(0),
      "unigram corpusTotals: empty vocabulary — the corpus produced no " +
        "words (all rows filtered or empty text); nothing to fit")
    (r.getLong(0), r.getLong(1))
  }

  /** Persist a fitted seed model (piece scores + DP constants) — the
    * unigram analogue of [[Bpe.saveModel]]'s train-once artifact.
    * Parquet, one row per piece with the two scalar constants repeated
    * (self-describing single table; no sidecar file to lose). */
  def saveModel(spark: org.apache.spark.sql.SparkSession, model: SeedModel,
                dir: String): Unit = {
    import spark.implicits._
    model.pieces.toSeq.sortBy(_._1)
      .map { case (p, c) => (p, c, model.maxPieceLen, model.big) }
      .toDF("piece", "cnt", "max_piece_len", "big")
      .write.mode("overwrite").parquet(dir)
  }

  /** Load a persisted seed model. */
  def loadModel(spark: org.apache.spark.sql.SparkSession, dir: String): SeedModel = {
    val rows = spark.read.parquet(dir)
      .select("piece", "cnt", "max_piece_len", "big").collect()
    require(rows.nonEmpty, s"empty unigram model at $dir")
    SeedModel(rows.map(r => r.getString(0) -> r.getLong(1)).toMap,
      rows.head.getInt(2), rows.head.getLong(3))
  }

  /** EM to CONVERGENCE — the loop SentencePiece runs, over the integer
    * objective: iterate [[emRound]] (M-step refit, unused pieces
    * pruned) until the weighted total piece count stops improving by
    * more than `minDelta`, or `maxIters` rounds. Returns the kept
    * model plus one [[EmIter]] row per round RUN — including the round
    * that triggered the stop, so the trace itself witnesses
    * convergence.
    *
    * The integer surrogate is NOT guaranteed monotone under the count
    * refit, so the returned model is the LATEST non-regressing round:
    * a stopping round whose total merely failed to improve enough
    * (equal, or within `minDelta`) is kept — it carries the pruning —
    * but a round that made the corpus total strictly WORSE is
    * discarded in favor of its predecessor. Deterministic end to end
    * (integer compares only), hence DuckDB-replayable; each round
    * costs two vocab-bounded jobs regardless of corpus size. */
  def emLoop(vocab: DataFrame, seed: SeedModel, maxIters: Int,
             minDelta: Long = 0L): (SeedModel, Seq[EmIter]) = {
    require(maxIters >= 1, s"need maxIters >= 1, got $maxIters")
    require(minDelta >= 0L, s"need minDelta >= 0, got $minDelta")
    var model = seed
    var (tp, tm) = corpusTotals(vocab, model)
    val iters = Seq.newBuilder[EmIter]
    iters += EmIter(1, model.pieces.size, tp, tm)
    var i = 1
    var stopped = false
    while (i < maxIters && !stopped) {
      val next = emRound(vocab, model)
      val (tp2, tm2) = corpusTotals(vocab, next)
      i += 1
      iters += EmIter(i, next.pieces.size, tp2, tm2)
      if (tp2 >= tp - minDelta) stopped = true // no (sufficient) improvement
      if (tp2 <= tp) { model = next; tp = tp2; tm = tm2 } // never keep a regression
    }
    (model, iters.result())
  }
}
