package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.functions.{DsirScoreSum, Kernel}

/** DSIR — Data Selection via Importance Resampling (Xie et al.,
  * NeurIPS 2023) — the published scale path for "pick the raw-corpus
  * documents that look most like a small high-quality target corpus".
  * The third member of the selection tier: [[TextAnalysis.qualityScore]]
  * is the heuristic filter, [[Classify]] the trained per-term NB filter,
  * and this the HASHED-feature importance sampler whose model size is a
  * CONSTANT `numBuckets` — independent of the vocabulary, which is what
  * survives 100 TB (an open-vocabulary count table grows with the
  * corpus; the hashed model is a few KB broadcast forever).
  *
  * Method, exactly as published: featurize each document as hashed word
  * unigrams + adjacent bigrams (the paper's hashed n-gram features),
  * fit two smoothed multinomials — target p and raw q — over the
  * `numBuckets` feature buckets, weight every raw document by
  * `log w = Σ_feats [ln p(b) − ln q(b)]`, then resample without
  * replacement ∝ w via the Gumbel-top-k trick (`key = log w + G_i`,
  * take the top n — equivalent to softmax sampling without
  * replacement; the noise is md5-derived like
  * [[Sampling.weightedSample]]'s Efraimidis–Spirakis keys, so every
  * engine draws the same sample).
  *
  * Numeric discipline: the per-bucket log-ratio folds into ONE
  * logarithm of an integer-count cross-ratio, rounded to 6 decimals
  * and scaled to micro-nat longs BEFORE the per-document sum (the
  * [[Classify.nbScore]] fixed-point pattern) — long sums are
  * order-free, so weights are partitioning-invariant and exactly
  * replayable in the DuckDB oracle.
  *
  * Scale design: fitting is one aggregation over the token scan into a
  * ≤ `numBuckets`-row frame; scoring is scan + BROADCAST bucket join +
  * order-free long sums; resampling is a global top-k
  * (TakeOrderedAndProject — O(n) rows per task, no full sort). No
  * corpus-sized shuffle anywhere beyond the per-doc aggregation.
  */
object Dsir {

  /** Paper-scale is 10k; the default keeps the testdata buckets
    * meaningfully collided (feature hashing MUST collide — that's the
    * fixed-size-model contract being exercised, not a defect). */
  val DefaultBuckets = 1024

  private def wordsCol(text: Column): Column =
    regexp_extract_all(lower(text), lit("[a-z]+"), lit(0))

  /** Hashed-n-gram features over a PRE-MATERIALIZED words attribute:
    * word unigrams ++ adjacent bigrams ("w1 w2"). `ws` MUST be a plain
    * attribute column, not an inline tokenizer expression — the bigram
    * lambda reads `element_at(ws, i)` twice per position, and an
    * embedded regexp_extract_all subtree there re-tokenizes the
    * document once PER BIGRAM — O(n²) in document length (the exact
    * pitfall [[Dedup.shinglesFromWords]] documents; measured here as
    * dsir_fit costing 5.7 s where the shape-identical nb_train explode
    * costs <1 s). The `size >= 2` guard dodges the `sequence(1, 0)`
    * descending-range trap (see [[Bpe]] — sequence(1,0) = [1,0]). */
  def featuresFromWords(ws: Column): Column = {
    // bigrams via the native ngram_join kernel (r22): the transform-HOF
    // form re-evaluated the concat subtree interpreted per window
    // (CodegenFallback; see graft.functions.NgramJoin). For size < 2
    // the kernel returns the empty array — the old otherwise() branch.
    // MatDrill interleaved min: dsir_fit 0.85 vs 1.15 s.
    concat(ws, Dedup.ngrams(ws, 2))
  }

  /** A feature's bucket: the shared 60-bit md5 integer mod
    * `numBuckets` (non-negative by construction, so `%` and `pmod`
    * agree — the DuckDB twin uses plain `%`). */
  def bucketCol(feat: Column, numBuckets: Int): Column =
    Dedup.md5Hash60(feat) % numBuckets

  /** `(doc_id, bucket)` exploded hashed features of a corpus. The words
    * array is materialized as an attribute in its own projection first
    * (the multi-reference consumer keeps CollapseProject from inlining
    * it back), so the tokenizer runs ONCE per document. */
  def hashedFeatures(docs: DataFrame, numBuckets: Int = DefaultBuckets,
                     idCol: String = "doc_id", textCol: String = "text"): DataFrame =
    docs.withColumn("_ws", wordsCol(col(textCol)))
      .select(col(idCol), explode(featuresFromWords(col("_ws"))).as("_f"))
      .select(col(idCol), bucketCol(col("_f"), numBuckets).as("bucket"))

  /** Fit the two hashed multinomials: `(bucket, tgt_cnt, raw_cnt)` for
    * every OCCUPIED bucket plus the denormalized totals each row
    * carries (`tgt_tot`, `raw_tot`, `n_buckets`) so the persisted
    * artifact is self-contained (the [[TextAnalysis.saveLm]]
    * convention). `target` marks the high-quality target slice; the
    * raw distribution is the WHOLE corpus, target included — the
    * paper's q is the big corpus as-is. */
  def fitBuckets(docs: DataFrame, target: Column,
                 numBuckets: Int = DefaultBuckets,
                 textCol: String = "text"): DataFrame = {
    val feats = docs
      .withColumn("_ws", wordsCol(col(textCol)))
      .select(target.as("tgt"), explode(featuresFromWords(col("_ws"))).as("_f"))
      .select(col("tgt"), bucketCol(col("_f"), numBuckets).as("bucket"))
    val counts = feats.groupBy("bucket").agg(
      sum(when(col("tgt"), 1L).otherwise(0L)).as("tgt_cnt"),
      count(lit(1)).as("raw_cnt"))
    // totals as a single-partition WINDOW over the bucket table instead
    // of a re-aggregate crossJoined back (r22): the count table's dual
    // consumption disappears, so the corpus featurize+explode+md5 pass
    // runs ONCE with no materialization seam and no broadcast-future
    // race. The single window partition holds ≤ numBuckets rows — a
    // FIXED, corpus-independent bound — so the shape is safe at 100 TB
    // (unlike a vocabulary-sized global window, which would not be).
    val w = org.apache.spark.sql.expressions.Window.partitionBy()
    counts
      .withColumn("tgt_tot", sum("tgt_cnt").over(w))
      .withColumn("raw_tot", sum("raw_cnt").over(w))
      .withColumn("n_buckets", lit(numBuckets.toLong))
  }

  /** Persist / load the fitted bucket model (parquet; columns checked
    * on load like [[TextAnalysis.loadLm]]). */
  def saveDsir(model: DataFrame, dir: String): Unit =
    model.write.mode("overwrite").parquet(dir)

  def loadDsir(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.loadLm(spark, dir,
      Seq("bucket", "tgt_cnt", "raw_cnt", "tgt_tot", "raw_tot", "n_buckets"))

  /** The model's denormalized scalars `(tgt_tot, raw_tot, n_buckets)`,
    * with the non-empty-target guard every scoring path shares. */
  private def modelTotals(model: DataFrame): (Long, Long, Long) = {
    val m = model.agg(max("tgt_tot"), max("raw_tot"), max("n_buckets")).collect()(0)
    val (tgtTot, rawTot, b) = (m.getLong(0), m.getLong(1), m.getLong(2))
    require(tgtTot > 0, s"DSIR needs a non-empty target slice, got tgt_tot=$tgtTot")
    (tgtTot, rawTot, b)
  }

  /** One feature's smoothed cross-ratio log
    * `ln((tgt+1)·(raw_tot+B) / ((raw+1)·(tgt_tot+B)))`, rounded to 6
    * decimals then micro-nat fixed point — ONE definition shared by the
    * join path and the collected-map path, so the two are bit-identical
    * by construction (both evaluate Spark's own log/round). */
  private def llr6Expr(tgtTot: Long, rawTot: Long, b: Long)(
      tgt: Column, raw: Column): Column =
    round(round(log(
      ((tgt + 1L).cast("double") * lit((rawTot + b).toDouble)) /
        ((raw + 1L).cast("double") * lit((tgtTot + b).toDouble))),
      6) * 1e6, 0).cast("long")

  /** Per-document log importance weight under a fitted model:
    * `(doc_id, n_feats, logw)`. Buckets the model never saw take the
    * zero-count smoothing via the left join + coalesce. `logw` is the
    * exact micro-nat long divided back to double UNROUNDED — the
    * integer sum is the same IEEE double everywhere. Documents with no
    * `[a-z]+` token have no rows and drop out (the explode-join
    * semantics every token scorer here shares). */
  def logImportance(docs: DataFrame, model: DataFrame,
                    idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    val (tgtTot, rawTot, b) = modelTotals(model)
    val llr6 = llr6Expr(tgtTot, rawTot, b)(
      coalesce(col("tgt_cnt"), lit(0L)), coalesce(col("raw_cnt"), lit(0L)))
    val buckets = model.groupBy("bucket").agg(
      max("tgt_cnt").as("tgt_cnt"), max("raw_cnt").as("raw_cnt"))
    hashedFeatures(docs, b.toInt, idCol, textCol)
      .join(broadcast(buckets), Seq("bucket"), "left")
      .select(col(idCol), llr6.as("s6"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_feats"),
        (sum("s6").cast("double") / 1e6).as("logw"))
  }

  /** The fitted model collected to the driver: per-bucket micro-nat
    * llr plus the unseen-bucket default. This is the fixed-size
    * contract cashing out — ≤ `numBuckets` entries no matter the
    * corpus, so the whole model rides inside one map LITERAL and
    * scoring needs no join, no shuffle, and no state. The llr values
    * are computed by Spark's own log/round expressions
    * ([[llr6Expr]]), never re-derived in driver math, so the map path
    * scores bit-identically to [[logImportance]]'s join path. */
  case class DsirModel(llr6: Map[Long, Long], default6: Long, numBuckets: Int)

  def collectModel(model: DataFrame): DsirModel = {
    val (tgtTot, rawTot, b) = modelTotals(model)
    val llr = llr6Expr(tgtTot, rawTot, b) _
    val pairs = model.groupBy("bucket")
      .agg(max("tgt_cnt").as("t"), max("raw_cnt").as("r"))
      .select(col("bucket"), llr(col("t"), col("r")).as("s6"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val default6 = model.sparkSession.range(1)
      .select(llr(lit(0L), lit(0L)).as("s6")).collect()(0).getLong(0)
    DsirModel(pairs, default6, b.toInt)
  }

  /** STATELESS per-row scoring under a collected model — works
    * unchanged on a batch frame or a streaming one (no aggregation, no
    * watermark, no state store): each row folds its own feature list
    * through the broadcast-literal map. Emits the [[logImportance]]
    * columns; rows with no `[a-z]+` token are dropped to keep the two
    * paths' contracts identical. */
  def scoreWith(dm: DsirModel, docs: DataFrame,
                idCol: String = "doc_id", textCol: String = "text"): DataFrame = {
    // the fold runs in the NATIVE codegen'd kernel, not a composed
    // aggregate/transform HOF: HOFs are CodegenFallback, so the
    // md5+conv+modulo subtree re-evaluated INTERPRETED per feature
    // (measured 13.8 s with a map-literal lut, 6.5 s with a dense
    // array-literal lut, vs the join path's 1.6 s at sf0.1 — see
    // [[graft.functions.DsirScoreSum.score]]). The model rides along as a
    // dense per-bucket long[] with unseen buckets pre-filled by the
    // smoothing default — O(1) lookups, values straight from
    // [[llr6Expr]] so the path stays bit-identical to [[logImportance]]
    val lut = Array.tabulate(dm.numBuckets)(b => dm.llr6.getOrElse(b.toLong, dm.default6))
    val s6 = Kernel.call(DsirScoreSum, "score", LongType, col("_feats"), lut, dm.default6)
    docs
      // words then features as attributes, each in its own projection:
      // both are multiply referenced downstream, which keeps
      // CollapseProject from inlining (and re-running) them — see
      // [[featuresFromWords]]'s O(n²) note. The features column is
      // additionally a ComputeOnce barrier: the n_feats filter below
      // would otherwise be PUSHED UNDER both projections, re-inlining
      // the whole tokenize+featurize tree (O(n²) again) into a per-row
      // scan Filter — measured 5.4 s vs 1.0 s at sf0.1
      .withColumn("_ws", wordsCol(col(textCol)))
      .withColumn("_feats",
        graft.functions.ComputeOnce.once(featuresFromWords(col("_ws"))))
      .select(col(idCol), size(col("_feats")).cast("long").as("n_feats"),
        (s6.cast("double") / 1e6).as("logw"))
      .filter(col("n_feats") > 0)
  }

  /** Gumbel-top-k resample without replacement ∝ exp(logw): perturb
    * each weight with deterministic md5-derived Gumbel noise
    * `G = −ln(−ln(u))`, `u = (h+0.5)/2^60 ∈ (0, 1)` — the half-step
    * offset keeps u strictly below 1, where Spark's log(-log(1)) would
    * return NULL (row silently sorts last) while DuckDB's ln(0) raises —
    * the two engines must agree even on the ~2⁻⁵³ edge. Take the top
    * `n` by `logw + G` (ties on id). TakeOrderedAndProject — the
    * driver holds n rows, never the corpus. `g_key` is emitted at 9
    * decimals like [[Sampling.weightedSample]]'s `es_key`. */
  def gumbelTopK(weights: DataFrame, n: Int,
                 idCol: String = "doc_id"): DataFrame = {
    val u = (Dedup.md5Hash60(col(idCol).cast("string")) + 0.5) /
      lit(1152921504606846976.0)
    weights
      .withColumn("_g_raw", col("logw") - log(-log(u)))
      .orderBy(col("_g_raw").desc, col(idCol))
      .limit(n)
      .withColumn("g_key", round(col("_g_raw"), 9))
      .drop("_g_raw")
  }
}
